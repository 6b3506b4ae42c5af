package graft.model

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Additive schema evolution (SURVEY.md §2.1 sink_ddl_bootstrap): the Spark
  * analog of the reference's `ALTER TABLE ... ADD COLUMN IF NOT EXISTS`
  * startup migration (tiny_api_v2_cliente.py:93,97-99). Evolution is
  * strictly additive — new nullable columns appear, existing columns are
  * never dropped or retyped (a type change is an error, not a migration).
  */
object SchemaEvolution {

  /** Check evolution legality between an existing table schema and an
    * incoming one: additions OK, type changes rejected. Returns the merged
    * schema. */
  def mergeAdditive(existing: StructType, incoming: StructType): StructType = {
    val byName = existing.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { old =>
        require(old.dataType == f.dataType,
          s"illegal schema evolution for column '${f.name}': " +
          s"${old.dataType.simpleString} -> ${f.dataType.simpleString}")
      }
    }
    StructType(existing.fields ++
      incoming.fields.filterNot(f => byName.contains(f.name)))
  }

  /** Bootstrap: CREATE-IF-NOT-EXISTS analog — write an empty table with the
    * declared schema when the path doesn't exist yet. */
  def ensureTable(spark: SparkSession, path: String, declared: StructType): Unit =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
        .write.parquet(path)
    }
}
