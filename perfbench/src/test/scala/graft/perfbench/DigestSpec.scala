package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = Seq(
    (1L, "alpine:3.19/cve-2024-0001", Seq(1.5, 2.0)),
    (2L, "alpine:3.19/cve-2024-0002", Seq(0.0)),
    (3L, "nvd/cve-2024-0003", Seq.empty[Double]))

  private def digest(rs: Seq[(Long, String, Seq[Double])], parts: Int) = {
    import spark.implicits._
    Digest.of(rs.toDF("id", "identifier", "scores").repartition(parts))
  }

  test("the digest ignores row order and partitioning") {
    assert(digest(rows, 1) == digest(rows.reverse, 3))
  }

  test("the digest check rejects one perturbed row") {
    val recorded = Map("q" -> digest(rows, 2))
    assert(Digest.mismatches(recorded, Map("q" -> digest(rows, 2))).isEmpty)
    val perturbed = rows.updated(1, rows(1).copy(_3 = Seq(0.5)))
    val bad = Digest.mismatches(recorded, Map("q" -> digest(perturbed, 2)))
    assert(bad.size == 1 && bad.head.startsWith("q:"))
  }

  test("a missing or unrecorded query is a mismatch") {
    val d = digest(rows, 1)
    assert(Digest.mismatches(Map("a" -> d), Map("b" -> d)).size == 2)
  }
}
