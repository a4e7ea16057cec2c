package graft

import org.apache.spark.sql.functions._

import graft.engine.{Catalog, Endpoint, Etl, Transforms}

/** The reference tool's complete interactive workflow, replayed through the
  * library on the fixture warehouse — what "a user of the reference could
  * switch to this library" means concretely:
  *   1. discover tables and columns (ETLProcess.java:142-159, 302-311)
  *   2. extract via raw SQL or a projected table pick (:84-86, :104-124)
  *   3. map source→destination columns, PK enforced (:313-345)
  *   4. apply per-column transforms (:528-567)
  *   5. load with upsert-by-PK semantics (:388-427)
  */
class ReferenceWorkflowSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("full discover -> extract -> map -> transform -> upsert workflow") {
    // 1. discovery
    val tables = Catalog.listTables(dir)
    tables should contain("customer")
    Endpoint.Parquet(spark, dir).table("customer").columns should contain("c_mktsegment")
    val pks = Catalog.mergeKeys("customer")

    // 2. extraction: raw SQL (the reference's pass-through path)
    val extracted = Catalog.sql(spark, dir,
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey <= 60")

    // 3+4. mapping with PK enforcement, then scalar transforms
    val shaped = Etl(extracted)
      .mapColumns(
        Seq("c_custkey" -> "c_custkey", "c_name" -> "name", "c_mktsegment" -> "segment"),
        destPks = pks)
      .transform(Map("segment" -> Transforms.Lower, "name" -> Transforms.Upper))
      .result
      .withColumn("version", lit(2))

    // 5. load: upsert into an existing destination (keys from the catalog)
    val existing = Catalog.sql(spark, dir,
      "SELECT c_custkey, upper(c_name) AS name, c_mktsegment AS segment FROM customer WHERE c_custkey <= 40")
      .withColumn("version", lit(1))
    val loaded = Etl(shaped).loadUpsert(existing, keys = pks, orderCol = "version")

    // destination state: every extracted key exactly once, incoming rows
    // won on the overlap (lower-cased segment proves the transform ran)
    val nKeys = extracted.count()
    loaded.count() shouldBe nKeys
    loaded.select("c_custkey").distinct().count() shouldBe nKeys
    val overlap = loaded.filter(col("c_custkey") <= 40)
    overlap.filter(col("segment") =!= lower(col("segment"))).count() shouldBe 0
    overlap.filter(col("version") =!= 2).count() shouldBe 0
    // names upper-cased by the transform on BOTH paths
    loaded.filter(col("name") =!= upper(col("name"))).count() shouldBe 0
  }
}
