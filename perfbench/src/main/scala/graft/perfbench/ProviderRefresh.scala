package graft.perfbench

import graft.providers.{NvdProvider, SecdbProvider}
import graft.sinks.{Catalog, ResultStore, SchemaGate}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The vunnel-shaped write workload: full syncs of generated secdb and
  * NVD inputs, each into its own empty store root (the cold passes), then
  * incremental refresh rounds over the last store until the measuring
  * window is filled (the warm passes). Every round applies the same
  * refresh batch: it re-runs one secdb release through the
  * `Cli run secdb` path, upserts one NVD page of modified CVEs and reads
  * `status`, so the rounds are alike and the final store does not depend
  * on how many a run makes.
  *
  * Untraced, every operation is one timed call into the engine. A traced
  * run records the last full sync and the second refresh round with
  * forced layer boundaries: the source scan and the provider's envelopes
  * are persisted and counted in their own spans, so the commit that
  * follows reads them from the cache and the sink's own time shows apart;
  * the other rounds run untraced for the tracing-overhead ratio.
  */
object ProviderRefresh {

  /** Full syncs per run; the cold metric is their median, so neither the
    * first sync's JIT warm-up nor one sync's jitter sets it alone. */
  val FullSyncs = 3

  /** Refresh rounds a run makes at least, whatever the window: untraced,
    * traced, untraced in a traced run. */
  val MinRounds = 3

  def run(ctx: Ctx): Unit = {
    import ctx.{rec, spark, tracer}
    val in = ctx.inputs
    val expected = Json.read(s"$in/expected.json")
    import scala.jdk.CollectionConverters._
    val releases = expected.get("releases").elements().asScala
      .map(_.asText()).toSeq
    val roundRelease = expected.get("round").get("release").asText()
    val fixdates = spark.read
      .schema("vuln STRING, cpe STRING, version STRING, date STRING, " +
        "kind STRING")
      .json(s"$in/fixdates.jsonl")

    def op(pass: Int, name: String)(body: => Unit): Unit =
      tracer.span(name, "refresh", trace = true) {
        val (wall, task, ok) = ctx.timed(name)(body)
        rec.op(pass, name, wall, task, ok)
        ctx.release()
      }

    var root = ""
    for (pass <- 0 until FullSyncs) {
      root = s"${ctx.work}/store-$pass"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ctx.setTracing(tracer.enabled && pass == FullSyncs - 1)
      tracer.span(s"pass-$pass", "pass") {
        op(pass, "secdb_full") {
          releases.foreach(rel =>
            secdbCli(ctx, s"$in/full/secdb/$rel/*.json", rel, root))
        }
        op(pass, "nvd_full") {
          val env = nvdEnvelopes(ctx, s"$in/full/nvd/*.json", fixdates)
          if (tracer.active) tracer.span("gate", "sinks") {
            tracer.attr("quarantined",
              SchemaGate.validate(env)._2.count().toDouble)
          }
          tracer.span("commit", "sinks") {
            ResultStore.commitValidated(spark, env, s"$root/nvd")
            storeAttrs(ctx, s"$root/nvd")
          }
        }
      }
      rec.pass(pass, "cold", tracer.active)
      ctx.heapCheckpoint()
    }

    val t0 = System.nanoTime()
    var round = 0
    while (round < MinRounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val pass = FullSyncs + round
      val traced = tracer.enabled && round == 1
      ctx.setTracing(traced)
      tracer.span(s"pass-$pass", "pass") {
        op(pass, "secdb_cli") {
          secdbCli(ctx, s"$in/round/secdb/$roundRelease/*.json",
            roundRelease, root)
        }
        op(pass, "nvd_upsert") {
          val env = nvdEnvelopes(ctx, s"$in/round/nvd/page.json", fixdates)
          tracer.span("upsert_commit", "sinks") {
            val dest = s"$root/nvd"
            ResultStore.commit(spark,
              ResultStore.upsert(ResultStore.read(spark, dest), env), dest)
            storeAttrs(ctx, dest)
          }
        }
        op(pass, "status") {
          tracer.span("status", "sinks") {
            tracer.attr("providers",
              Catalog.status(spark, root).collect().length.toDouble)
          }
        }
      }
      rec.pass(pass, "warm", traced)
      ctx.heapCheckpoint()
      round += 1
    }
    ctx.setTracing(false)
    verify(ctx, root, releases, fixdates, expected)
    ctx.heapCheckpoint()
    ctx.setTracing(tracer.enabled)
  }

  /** `Cli run secdb <glob> alpine:<release> <root>`: scan, transform,
    * upsert over the provider's store and commit. Traced, the scan and
    * the envelopes are forced (and cached) first in their own spans. */
  private def secdbCli(ctx: Ctx, glob: String, release: String,
      root: String): Unit = {
    import ctx.tracer
    val ns = s"alpine:$release"
    if (tracer.active) {
      tracer.span("scan", "sources") {
        val raw = Sources.secdb(ctx.spark, glob).persist()
        val r = raw.agg(count(lit(1)),
          sum(when(col("vuln_id").rlike("^CVE-"), 0).otherwise(1))).head()
        tracer.attr("rows", r.getLong(0).toDouble)
        tracer.attr("filtered", r.getLong(1).toDouble)
      }
      tracer.span("transform", "providers") {
        val env = SecdbProvider.envelopes(ctx.spark, glob, ns).persist()
        tracer.attr("envelopes", env.count().toDouble)
      }
    }
    tracer.span("commit", "sinks") {
      graft.Cli.run(ctx.spark, List("run", "secdb", glob, ns, root))
      storeAttrs(ctx, s"$root/alpine")
    }
  }

  /** NVD passthrough envelopes with the fix-date enrichment; traced, the
    * page scan and the envelopes are forced (and cached) in their own
    * spans and the cached envelopes are returned. */
  private def nvdEnvelopes(ctx: Ctx, glob: String,
      fixdates: DataFrame): DataFrame = {
    import ctx.tracer
    if (!tracer.active) return NvdProvider.envelopes(ctx.spark, glob,
      Some(fixdates))
    tracer.span("scan", "sources") {
      val raw = ctx.spark.read.option("multiLine", "true").json(glob)
        .persist()
      tracer.attr("rows", raw.select(sum(size(col("vulnerabilities"))))
        .head().getLong(0).toDouble)
      tracer.attr("filtered", 0)
    }
    tracer.span("transform", "providers") {
      val env = NvdProvider.envelopes(ctx.spark, glob, Some(fixdates))
        .persist()
      tracer.attr("envelopes", env.count().toDouble)
      env
    }
  }

  /** Size of the store a commit just promoted, on the commit span. */
  private def storeAttrs(ctx: Ctx, dest: String): Unit =
    if (ctx.tracer.active) {
      val files = parquetFiles(dest)
      ctx.tracer.attr("files_written", files.size.toDouble)
      ctx.tracer.attr("bytes_written", files.map(_.length()).sum.toDouble)
    }

  private def parquetFiles(dest: String): Seq[java.io.File] =
    Option(new java.io.File(s"$dest/results").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))

  /** Output checks on the refreshed store: each of its stores holds
    * exactly the generator's distinct-CVE count, and its manifest digest
    * equals the one `ResultStore.commit` returns for the envelopes of the
    * final inputs alone (what a from-scratch sync of the refreshed data
    * would commit), committed into a scratch store. */
  private def verify(ctx: Ctx, root: String, releases: Seq[String],
      fixdates: DataFrame,
      expected: com.fasterxml.jackson.databind.JsonNode): Unit = {
    import ctx.{rec, spark}
    val in = ctx.inputs
    val finals = Seq(
      ("alpine", expected.get("secdb_rows").asLong(),
        () => releases.map(rel => SecdbProvider.envelopes(spark,
          s"$in/final/secdb/$rel/*.json", s"alpine:$rel")).reduce(_ union _)),
      ("nvd", expected.get("nvd_rows").asLong(),
        () => NvdProvider.envelopes(spark, s"$in/final/nvd/*.json",
          Some(fixdates))))
    var bytes = 0L
    var rows = 0L
    finals.foreach { case (store, want, finalEnv) =>
      val dest = s"$root/$store"
      val got = ResultStore.manifestRows(dest).getOrElse(-1L)
      rec.check(s"$store rows", got == want, s"committed $got, generated $want")
      val digest = ResultStore.manifest(dest).toSeq
        .flatMap(_.linesIterator).find(_.startsWith("xxh64:")).getOrElse("")
      val want2 = ResultStore.commit(spark, finalEnv(),
        s"${ctx.work}/expected/$store")
      rec.check(s"$store digest", digest == want2,
        s"manifest $digest, from final inputs $want2")
      bytes += parquetFiles(dest).map(_.length()).sum
      rows += math.max(got, 0L)
      ctx.release()
    }
    rec.counters("sinks.bytes_per_record") =
      if (rows > 0) bytes.toDouble / rows else 0.0
  }
}
