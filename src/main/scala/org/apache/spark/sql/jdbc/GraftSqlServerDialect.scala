package org.apache.spark.sql.jdbc

import java.sql.Types

import org.apache.spark.sql.types.{DataType, DoubleType, TimestampNTZType, TimestampType}

/** Spark's own SQL Server dialect with graft's two write types (see
  * [[graft.engine.Sources.SqlServerTypes]]). Spark's dialect is private
  * to this package, hence the package. */
private class GraftSqlServerDialect extends MsSqlServerDialect {
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case TimestampType | TimestampNTZType => Some(JdbcType("DATETIME2(6)", Types.TIMESTAMP))
    case DoubleType => Some(JdbcType("FLOAT", Types.DOUBLE))
    case _ => super.getJDBCType(dt)
  }
}

object GraftSqlServerDialect {
  val dialect: JdbcDialect = new GraftSqlServerDialect
  /** Put [[dialect]] in the place of the built-in instance (idempotent),
    * so a SQL Server URL resolves to it alone. */
  def register(): Unit = {
    JdbcDialects.unregisterDialect(MsSqlServerDialect())
    JdbcDialects.registerDialect(dialect)
  }
}
