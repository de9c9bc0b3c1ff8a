package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Order-independent digest of a query result: the row count and the
  * wrapping sum of each row's xxhash64 over its UnsafeRow bytes. The
  * hashing runs inside the query's own final stage (a map over the
  * executed plan's rows in place of `count`), so the verified execution
  * is the same physical plan the timed executions run.
  */
object Digest {
  final case class Result(rows: Long, digest: Long) {
    def hex: String = f"$digest%016x"
  }

  def of(df: DataFrame): Result = {
    val schema = df.queryExecution.executedPlan.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Result(n, h)
  }

  /** Compare each computed result with the recorded one; returns one
    * message per mismatch (a query missing from either side included). */
  def mismatches(recorded: Map[String, Result],
      got: Map[String, Result]): Seq[String] =
    (recorded.keySet ++ got.keySet).toSeq.sorted.flatMap { q =>
      (recorded.get(q), got.get(q)) match {
        case (Some(r), Some(g)) if r == g => None
        case (Some(r), Some(g)) => Some(
          s"$q: rows ${g.rows} digest ${g.hex}, recorded rows ${r.rows} " +
            s"digest ${r.hex}")
        case (None, Some(_)) => Some(s"$q: no recorded digest")
        case (Some(_), None) => Some(s"$q: not executed")
        case _ => None
      }
    }

  def load(path: String): Map[String, Result] = {
    import scala.jdk.CollectionConverters._
    Json.read(path).properties().asScala.map { e =>
      e.getKey -> Result(e.getValue.get("rows").asLong(),
        java.lang.Long.parseUnsignedLong(e.getValue.get("digest").asText(), 16))
    }.toMap
  }

  def render(results: Map[String, Result]): String =
    results.toSeq.sortBy(_._1).map { case (q, r) =>
      s"  ${Json.quote(q)}: {\"rows\": ${r.rows}, \"digest\": \"${r.hex}\"}"
    }.mkString("{\n", ",\n", "\n}\n")
}
