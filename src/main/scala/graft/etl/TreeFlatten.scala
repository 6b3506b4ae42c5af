package graft.etl

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Hierarchy operators (SURVEY.md §2.5 `j4_tree_flatten`).
  *
  * The reference stores the category tree as an adjacency list
  * (`categorias.id_categoria_pai` self-FK, tiny_api_v2_cliente.py:83,
  * README.md:7 "com hierarquia"). Analytics over it (rollups, ancestor
  * paths) need the transitive closure; Spark SQL has no recursive CTE, so we
  * iterate a self-join to fixed point, cutting lineage with localCheckpoint
  * each level (SURVEY.md §4).
  *
  * Scale posture: hierarchy dimensions are small (thousands of categories
  * even in large ERPs) — each iteration joins frontier⋈edges where edges is
  * broadcast; depth is bounded by `maxDepth` to guard against cycles in
  * dirty data (nullable self-FK).
  */
object TreeFlatten {

  private val Json = new ObjectMapper()

  /** j4 ingest side: nested tree JSON → adjacency list
    * (id_categoria, descricao_categoria, id_categoria_pai), the exact shape
    * of the `categorias` DDL (ref :83). Reads `{"retorno": [ ...roots... ]}`
    * envelopes of `{"id","descricao","nodes":[...]}` nodes (FIXTURES.md
    * §3.1; árvore endpoint ref :33).
    *
    * The tree is a small dimension, so it is parsed with Jackson and walked
    * on the driver (SURVEY.md §2.5 allows driver-side recursion), level by
    * level down to `maxDepth` levels below the roots (a guard against
    * pathological nesting), and comes back as a local DataFrame: no Spark
    * job and no nested-schema plan to compile. A value is read as its JSON
    * text and cast to int in Spark, as the earlier Spark JSON read did, so
    * a non-numeric id becomes NULL. A `retorno` that is missing or not an
    * array yields no rows; malformed JSON throws. */
  def flattenCategoryTree(spark: SparkSession, path: String,
                          maxDepth: Int = 8): DataFrame = {
    def text(n: JsonNode, field: String): String =
      Option(n.get(field)).filterNot(_.isNull)
        .map(v => if (v.isValueNode) v.asText else v.toString).orNull
    def children(n: JsonNode, field: String): Seq[JsonNode] =
      Option(n.get(field)).filter(_.isArray)
        .fold(Seq.empty[JsonNode])(_.elements.asScala.toSeq)
    // (node, parent id) per level; level 0 holds the roots
    val roots = children(Json.readTree(Paths.get(path).toFile), "retorno")
      .map(_ -> (null: String))
    val rows = Iterator.iterate(roots)(_.flatMap { case (n, _) =>
        children(n, "nodes").map(_ -> text(n, "id")) })
      .take(maxDepth + 1).takeWhile(_.nonEmpty).flatten
      .map { case (n, pid) => Row(text(n, "id"), text(n, "descricao"), pid) }
      .toSeq
    spark.createDataFrame(rows.asJava,
        StructType.fromDDL("id STRING, descricao STRING, pid STRING"))
      .select(col("id").cast("int").as("id_categoria"),
        col("descricao").as("descricao_categoria"),
        col("pid").cast("int").as("id_categoria_pai"))
  }

  /** Transitive ancestor closure of an adjacency list.
    *
    * @param edges DataFrame with columns (`id`, `parent`), `parent` nullable
    *              for roots.
    * @return (id, ancestor, depth) with depth >= 1 — one row per
    *         (node, proper ancestor) pair.
    */
  def ancestorClosure(edges: DataFrame, maxDepth: Int = 32): DataFrame = {
    val parentOf = edges.filter(col("parent").isNotNull)
      .select(col("id"), col("parent"))
    var frontier = parentOf
      .select(col("id"), col("parent").as("ancestor"), lit(1).as("depth"))
      .localCheckpoint()
    var closure = frontier
    var depth = 1
    while (depth < maxDepth && !frontier.isEmpty) {
      frontier = frontier.alias("f")
        .join(parentOf.alias("e"), col("f.ancestor") === col("e.id"))
        .select(col("f.id"), col("e.parent").as("ancestor"),
                (col("f.depth") + 1).as("depth"))
        .localCheckpoint()
      closure = closure.unionByName(frontier)
      depth += 1
    }
    closure
  }

  /** Roll a per-node measure up to every ancestor (each node also counts
    * toward itself). Returns (ancestor, rolled) where `rolled` sums
    * `measureCol` over the node's full subtree.
    */
  def rollup(edges: DataFrame, nodeMeasures: DataFrame,
             nodeCol: String, measureCol: String): DataFrame = {
    val closure = ancestorClosure(edges)
    val selfEdge = nodeMeasures.select(col(nodeCol).as("id"),
      col(nodeCol).as("ancestor"))
    val allPairs = closure.select("id", "ancestor").unionByName(selfEdge)
    allPairs.join(nodeMeasures, allPairs("id") === nodeMeasures(nodeCol))
      .groupBy(col("ancestor"))
      .agg(sum(col(measureCol)).as(measureCol))
  }
}
