package graft.perfbench

import graft.SparkEntry

/** The query-catalog workload: fixture staging (set-up), a cold pass
  * (each query's first execution), then warm passes for the run's
  * measuring window. Each pass runs the queries in a seed-permuted order,
  * every execution through the same build / plan / execute path; after
  * each timed warm execution an untimed verification execution hashes
  * its result for the digest check, and caches are released, both
  * outside the timed window.
  */
object Catalogs {

  /** A curation subset of the pipeline catalog that keeps every operator
    * module and the fixture kinds it stages, sized so a run fits its time
    * budget: the full 137-query catalog takes over a minute per pass at
    * this scale, and staging all of it (`preStageAll`) another forty
    * seconds. */
  val curation: Seq[String] = Seq(
    "q_sim_ivf_hier_lazy",        // similarity: staged hierarchical IVF
    "q_dedup_minhash",            // dedup: MinHash bands + verification
    "q_dedup_incr_emb",           // dedup: staged embedding index
    "q_corpus_substring_dedup",   // corpus: substring dedup
    "q_multimodal_image_dedup",   // multimodal: staged media corpus
    "q_embed_pca",                // embeddings: staged PCA basis
    "q_decontaminate_bloom",      // contamination: bloom probe
    "q_quality_classifier")       // other: staged classifier

  /** The curation queries whose construction stages a fixture on disk
    * (their `ensureStaged` builds run when the query is built). */
  val staged: Seq[String] = Seq("q_sim_ivf_hier_lazy", "q_dedup_incr_emb",
    "q_multimodal_image_dedup", "q_embed_pca", "q_quality_classifier")

  /** Operator module a query exercises, from the catalog's naming. */
  def module(q: String): String = q match {
    case _ if q.startsWith("q_dedup_") => "dedup"
    case _ if q.startsWith("q_sim_") => "similarity"
    case _ if q.startsWith("q_corpus_") => "corpus"
    case _ if q.startsWith("q_multimodal_") => "multimodal"
    case _ if q.startsWith("q_embed_") => "embeddings"
    case _ if q.startsWith("q_decontaminate") => "contamination"
    case _ => "other"
  }

  def run(ctx: Ctx, digests: Option[String],
      recordTo: Option[String]): Unit = {
    import ctx.{rec, tracer}
    val fns = SparkEntry.queries
    val rnd = new scala.util.Random(ctx.seed)

    rec.modules ++= curation.map(q => q -> module(q))
    stage(ctx)
    ctx.release()
    ctx.heapCheckpoint()

    ctx.setTracing(false)
    tracer.span("pass-0", "pass") {
      rnd.shuffle(curation).foreach(q => execute(ctx, 0, q, fns(q), None))
    }
    rec.pass(0, "cold", traced = false)
    ctx.heapCheckpoint()

    // warm passes fill the measuring window; a traced run alternates
    // untraced and traced passes, at least untraced-traced-untraced so
    // the overhead ratio does not favour the later, warmer passes. Every
    // untraced warm pass is verified.
    val recorded = digests.map(Digest.load).getOrElse(Map.empty)
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var pass = 1
    def more = (System.nanoTime() - t0) / 1e9 < ctx.seconds ||
      (tracer.enabled && pass < 4)
    while (more) {
      val traced = tracer.enabled && pass % 2 == 0
      val got = scala.collection.mutable.Map.empty[String, Digest.Result]
      ctx.setTracing(traced)
      tracer.span(s"pass-$pass", "pass") {
        rnd.shuffle(curation).foreach(q =>
          execute(ctx, pass, q, fns(q), if (traced) None else Some(got)))
      }
      rec.pass(pass, "warm", traced)
      ctx.heapCheckpoint()
      if (!traced) recordTo match {
        case Some(path) =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
            Digest.render(got.toMap))
        case None =>
          bad ++= Digest.mismatches(recorded, got.toMap)
            .map(m => s"pass $pass: $m")
      }
      pass += 1
    }
    if (recordTo.isEmpty)
      rec.check("query digests", bad.isEmpty, bad.mkString("; "))
    ctx.setTracing(tracer.enabled)
  }

  /** Build the staged queries on a pool, as `preStageAll` builds its
    * fixtures, into the run's own fresh `java.io.tmpdir`. */
  private def stage(ctx: Ctx): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def fixtures = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
    val before = fixtures.map(_.getName).toSet
    val fns = SparkEntry.queries
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(staged.size, 8))
    val (wall, _, ok) = ctx.timed("staging") {
      ctx.tracer.span("staging", "staging") {
        try staged.map { q =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { fns(q)(ctx.spark, ctx.data); () }
          })
        }.foreach(_.get())
        finally pool.shutdown()
      }
    }
    val built = fixtures.filterNot(f => before(f.getName))
    val bytes = built.map(dirBytes).sum
    ctx.rec.counters ++= Seq("staging_s" -> wall,
      "staging.fixtures_built" -> built.size.toDouble,
      "staging.bytes_mb" -> bytes / 1048576.0)
    ctx.rec.check("staging built fixtures", ok && built.nonEmpty,
      s"${built.size} fixture directories")
  }

  /** One timed execution: untraced it is one timed window around
    * build + plan + execute; traced it splits into build / plan / execute
    * spans, plus the release that follows outside the timed window, under
    * one query span. With `verify`, the executed DataFrame is run once
    * more before the release, outside the timed window, and its row
    * digest kept: Spark reuses the timed execution's shuffle outputs, so
    * this hashes the rows the timed execution produced at the cost of
    * about one final stage. */
  private def execute(ctx: Ctx, pass: Int, q: String,
      fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame,
      verify: Option[scala.collection.mutable.Map[String, Digest.Result]])
      : Unit = {
    import ctx.tracer
    tracer.span(q, "queries", trace = true) {
      var df: org.apache.spark.sql.DataFrame = null
      val (wall, task, ok) = ctx.timed(q) {
        df = tracer.span("build", "queries")(fn(ctx.spark, ctx.data))
        tracer.span("plan", "queries")(df.queryExecution.executedPlan)
        tracer.span("execute", "queries")(df.queryExecution.toRdd.count())
      }
      ctx.rec.op(pass, q, wall, task, ok)
      if (ok) verify.foreach { got =>
        try got(q) = Digest.of(df) catch { case e: Exception =>
          System.err.println(s"[perfbench] verify $q FAILED: $e")
        }
      }
      tracer.span("release", "queries")(ctx.release())
    }
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}
