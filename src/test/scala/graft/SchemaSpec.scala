package graft

import org.apache.spark.sql.types._

import graft.model.{SchemaEvolution, Schemas}

/** sink_ddl_bootstrap goldens: catalog completeness and additive-only
  * evolution (ref :93,:97-99). */
class SchemaSpec extends SparkSpec {

  test("catalog declares all nine reference tables with natural keys") {
    assert(Schemas.all.keySet === Schemas.naturalKeys.keySet)
    assert(Schemas.all.size === 9)
    // every natural key column exists in its schema
    Schemas.naturalKeys.foreach { case (tbl, keys) =>
      val cols = Schemas.all(tbl).fieldNames.toSet
      keys.foreach(k => assert(cols(k), s"$tbl missing key col $k"))
    }
  }

  test("mergeAdditive accepts additions and rejects type changes") {
    val base = StructType.fromDDL("a INT, b STRING")
    val add = StructType.fromDDL("b STRING, c DOUBLE")
    assert(SchemaEvolution.mergeAdditive(base, add).fieldNames.toSeq
      === Seq("a", "b", "c"))
    val retype = StructType.fromDDL("b INT")
    val e = intercept[IllegalArgumentException] {
      SchemaEvolution.mergeAdditive(base, retype)
    }
    assert(e.getMessage.contains("illegal schema evolution"))
  }

  test("ensureTable bootstraps an empty table once, idempotently") {
    val path = tmpDir("ddl") + "/produtos"
    SchemaEvolution.ensureTable(spark, path, Schemas.produtos)
    val df = spark.read.parquet(path)
    assert(df.count() === 0)
    assert(df.schema.fieldNames.toSeq === Schemas.produtos.fieldNames.toSeq)
    SchemaEvolution.ensureTable(spark, path, Schemas.produtos) // no-op
    assert(spark.read.parquet(path).count() === 0)
  }
}
