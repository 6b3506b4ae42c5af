package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.TreeFlatten

/** j4_tree_flatten goldens: nested JSON → adjacency list (FIXTURES.md §3.1
  * expected rows) and the iterative ancestor closure. */
class TreeFlattenSpec extends SparkSpec {

  test("category tree flattens to the expected adjacency list") {
    val got = TreeFlatten
      .flattenCategoryTree(spark, resource("tinyapi/categorias.json"))
      .orderBy("id_categoria")
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toSeq
    assert(got === Seq(
      (1, "Roupas", None),
      (2, "Camisetas", Some(1)),
      (3, "Calcas", Some(1)),
      (4, "Jeans", Some(3)),
      (5, "Acessorios", None)))
  }

  test("category tree flatten keeps the table's column types") {
    assert(TreeFlatten
      .flattenCategoryTree(spark, resource("tinyapi/categorias.json")).schema ===
      StructType.fromDDL("id_categoria INT, descricao_categoria STRING, " +
        "id_categoria_pai INT"))
  }

  test("category tree flatten stops maxDepth levels below the roots") {
    // a chain 1 → 2 → … → 12, each node the only child of the previous one
    val chain = (12 to 1 by -1).foldLeft("[]")((kids, i) =>
      s"""[{"id": "$i", "descricao": "c$i", "nodes": $kids}]""")
    val path = java.nio.file.Files.createTempFile("deep", ".json")
    java.nio.file.Files.writeString(path, s"""{"retorno": $chain}""")
    val got = TreeFlatten.flattenCategoryTree(spark, path.toString, maxDepth = 3)
      .orderBy("id_categoria").collect()
      .map(r => (r.getInt(0), Option(r.get(2)))).toSeq
    assert(got === Seq((1, None), (2, Some(1)), (3, Some(2)), (4, Some(3))))
  }

  test("ancestor closure reaches all levels with correct depths") {
    import spark.implicits._
    val edges = Seq(
      ("jeans", Some("calcas")), ("calcas", Some("roupas")),
      ("camisetas", Some("roupas")), ("roupas", None: Option[String]))
      .toDF("id", "parent")
    val got = TreeFlatten.ancestorClosure(edges)
      .orderBy("id", "depth")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === Seq(
      ("calcas", "roupas", 1),
      ("camisetas", "roupas", 1),
      ("jeans", "calcas", 1),
      ("jeans", "roupas", 2)))
  }

  test("closure guards against cycles via maxDepth") {
    import spark.implicits._
    val cyclic = Seq(("a", Some("b")), ("b", Some("a")))
      .toDF("id", "parent")
    // must terminate; depth capped
    val n = TreeFlatten.ancestorClosure(cyclic, maxDepth = 5).count()
    assert(n > 0)
  }

  test("rollup sums subtree measures into every ancestor") {
    import spark.implicits._
    val edges = Seq(
      ("jeans", Some("calcas")), ("calcas", Some("roupas")),
      ("camisetas", Some("roupas")), ("roupas", None: Option[String]))
      .toDF("id", "parent")
    val measures = Seq(("jeans", 10.0), ("calcas", 5.0),
      ("camisetas", 2.0), ("roupas", 1.0)).toDF("node", "rev")
    val got = TreeFlatten.rollup(edges, measures, "node", "rev")
      .orderBy("ancestor")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(
      ("calcas", 15.0),      // 5 + jeans 10
      ("camisetas", 2.0),
      ("jeans", 10.0),
      ("roupas", 18.0)))     // 1 + 2 + 5 + 10
  }
}
