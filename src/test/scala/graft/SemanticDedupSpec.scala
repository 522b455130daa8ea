package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.sim.SemanticDedup

class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("test", "4").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("plane signs are deterministic md5 parity") {
    // hand-checked: md5("0:0") = "b0c73...", first nibble 0xb = 11 → -1
    assert(SemanticDedup.planeSign(0, 0) ===
      (if (Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
        .digest("0:0".getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 1), 16) % 2 == 0) 1f else -1f))
    // stable across calls
    assert(SemanticDedup.planeSign(3, 17) === SemanticDedup.planeSign(3, 17))
  }

  test("keepers match the brute-force keeper rule on real embeddings") {
    val emb = sources.Tables.embeddings(spark, sf)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cells = emb.select(col("vec_id"), col("embedding"))
      .withColumn("cell", SemanticDedup.cellOf(col("embedding"), 4, dim))

    // brute force: all within-cell pairs, no prefiltering
    val a = cells.select(col("cell"), col("vec_id").as("ia"), col("embedding").as("va"))
    val b = cells.select(col("cell"), col("vec_id").as("ib"), col("embedding").as("vb"))
    val dropped = a.join(b, Seq("cell"))
      .where(col("ia") < col("ib") &&
        VectorFunctions.q_vec_cosine(col("va"), col("vb")) >= 0.35)
      .select(col("ib")).distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = cells.select(col("vec_id"), col("cell")).collect()
      .filterNot(r => dropped(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = SemanticDedup.semanticDedupKeepers(
      emb, "vec_id", "embedding", threshold = 0.35, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.size < cells.count()) // something was actually dropped
  }

  test("higher bits only split cells (bit prefix property)") {
    val emb = sources.Tables.embeddings(spark, sf).limit(40)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val both = emb.select(col("vec_id"),
      SemanticDedup.cellOf(col("embedding"), 3, dim).as("c3"),
      SemanticDedup.cellOf(col("embedding"), 4, dim).as("c4"))
      .collect()
    // the low 3 bits of the 4-bit cell are the 3-bit cell
    both.foreach(r => assert((r.getLong(2) & 7L) === r.getLong(1)))
  }
}
