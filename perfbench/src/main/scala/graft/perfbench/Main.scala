package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run in one fresh JVM: build the session, print `READY`
  * (the launcher times set-up up to that line), run one workload and
  * write the raw run record (per-operation walls, spans, stage records,
  * checks) as JSON. `perfbench/run.py` turns the record into metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <catalog tables> --inputs <provider inputs> --work <run dir>
  * --out <record.json> --digests <digests.json> [--record-digests <path>]`
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val traced = args.getOrElse("trace", "0") == "1"
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = graft.EngineConf.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    val listener = new EngineListener(traced)
    spark.sparkContext.addSparkListener(listener)
    println("READY")
    System.out.flush()

    val tracer = new Tracer(spark.sparkContext, traced)
    val rec = new Recorder
    val ctx = Ctx(spark, tracer, listener, rec, args("data"), args("inputs"),
      args("work"), args("seed").toLong, args("seconds").toDouble, cores)
    try tracer.span("run", "run") {
      tracer.span(workload, "workload") {
        workload match {
          case "catalog_curation" =>
            Catalogs.run(ctx, args.get("digests"), args.get("record-digests"))
          case "provider_refresh" => ProviderRefresh.run(ctx)
          case other => throw new IllegalArgumentException(
            s"unknown workload: $other")
        }
        if (traced) rec.probes ++= tracer.span("functions", "functions") {
          Probes.run(ctx.seed)
        }
      }
    } catch { case e: Throwable =>
      rec.check("workload completed", ok = false, e.toString)
      e.printStackTrace()
    }
    ctx.settle()
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[$cores]",
      "jvm" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20))
    val out = Map(
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
      "env" -> env, "peak_rss_mb" -> peakRssMb,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "passes" -> rec.passes, "ops" -> rec.ops, "checks" -> rec.checks,
      "counters" -> rec.counters, "probes" -> rec.probes,
      "modules" -> rec.modules,
      "spans" -> tracer.toJson, "jobs" -> listener.jobsJson,
      "stages" -> listener.stagesJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")),
      Json.render(out))
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val status = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/status"))
    import scala.jdk.CollectionConverters._
    status.asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer,
    listener: EngineListener, rec: Recorder, data: String, inputs: String,
    work: String, seed: Long, seconds: Double, cores: Int) {

  /** Wait until the listener has seen every event already posted, so a
    * task-time reading taken next covers all finished tasks. */
  def settle(): Unit =
    org.apache.spark.sql.graft.bridge.settleListenerBus(spark.sparkContext,
      10000)

  /** Switch span recording and per-stage listener records on or off
    * between passes (after the listener has caught up). */
  def setTracing(on: Boolean): Unit = {
    settle()
    tracer.active = on
    listener.detail = on
  }

  /** Drop every cache the last operation left behind (the engine's own
    * persists and the session CacheManager), outside any timed window. */
  def release(): Unit = {
    graft.operators.GraftCaches.release(spark)
    spark.catalog.clearCache()
  }

  /** Run a full collection and keep the heap still in use afterwards
    * (what the program holds live) as `live_heap_mb` if it is the run's
    * largest so far. Called between passes, outside any timed window.
    * The first collection hands unreachable broadcasts and RDDs to
    * Spark's ContextCleaner, which frees their blocks on its own thread;
    * the second, after a pause, counts the heap without them (a single
    * collection reads 90-155 MB where the second reads 83-86 MB). */
  def heapCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    rec.counters("live_heap_mb") =
      math.max(rec.counters.getOrElse("live_heap_mb", 0.0), used)
  }

  /** Wall seconds and executor task seconds of `body`; failures are
    * counted, reported on stderr, and do not stop the run. */
  def timed(name: String)(body: => Unit): (Double, Double, Boolean) = {
    settle()
    val task0 = listener.taskMillis
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name FAILED: $e")
      false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    settle()
    rec.attempted += 1
    if (!ok) rec.failed += 1
    (wall, (listener.taskMillis - task0) / 1e3, ok)
  }
}

/** What one run measured, before any aggregation. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val probes = mutable.LinkedHashMap.empty[String, Double]
  /** Operator module of each catalog query (the `operators` layer). */
  val modules = mutable.LinkedHashMap.empty[String, String]

  def op(pass: Int, name: String, wall: Double, task: Double,
      ok: Boolean): Unit =
    ops += Map("pass" -> pass, "name" -> name, "wall_s" -> wall,
      "task_s" -> task, "ok" -> ok)

  /** `kind` is `cold` for the first pass, `warm` for the rest; `traced`
    * marks the passes whose layers the tracer recorded. */
  def pass(index: Int, kind: String, traced: Boolean): Unit = {
    val mine = ops.filter(_("pass") == index)
    passes += Map("pass" -> index, "kind" -> kind, "traced" -> traced,
      "wall_s" -> mine.map(_("wall_s").asInstanceOf[Double]).sum,
      "task_s" -> mine.map(_("task_s").asInstanceOf[Double]).sum)
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
}
