package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.sources.StagedFetch.{Config, Transport}

/** The driver-side page-walk loops that close S1/S3 end-to-end:
  * plan → fetch (under the retry envelope) → stage → parse → re-plan,
  * until the provider's pagination logic says stop. Mirrors the
  * reference's NVD offset loop (`providers/nvd/api.py:105-147`) and
  * GHSA cursor loop (`providers/github/parser.py:206-229`), with the
  * per-request decision logic delegated to the pure functions the
  * providers already expose ([[graft.providers.NvdProvider
  * .remainingPageOffsets]], [[graft.providers.GhsaProvider
  * .nextCursor]]).
  *
  * Fetching is sequential by design — both upstream APIs are
  * rate-limited and cursor pagination is inherently serial — but the
  * staged pages land as one directory of JSON documents, so the
  * PARSE side (the expensive part at scale) is a plain multi-file
  * `spark.read.json` that distributes across the cluster.
  */
object FetchLoop {

  /** Generic cursor walk: `request(state)` builds the URL,
    * `advance(stagedPath, state, pageIndex)` inspects the page just
    * staged and returns the next state (None = exhausted). Every fetch
    * runs under [[StagedFetch.get]]'s retry envelope. Returns the
    * staged page paths in request order. */
  def walk[S](initial: S, stageDir: Path, transport: Transport,
      cfg: Config = Config(),
      sleeper: Double => Unit = s => Thread.sleep((s * 1000).toLong))(
      request: S => String)(
      advance: (Path, S, Int) => Option[S]): Seq[Path] = {
    Files.createDirectories(stageDir)
    // a re-run that stages FEWER pages must not leave stale page files
    // behind: the documented parse step is a glob over the directory,
    // which would silently resurrect them
    Files.list(stageDir).forEach { p =>
      if (p.getFileName.toString.matches("page_\\d+\\.json"))
        Files.delete(p)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    var state: Option[S] = Some(initial)
    while (state.isDefined) {
      val url = request(state.get)
      val r = StagedFetch.get(url, transport, cfg, sleeper)
      val path = stageDir.resolve(f"page_${out.size}%05d.json")
      Files.write(path, r.body)
      out += path
      state = advance(path, state.get, out.size - 1)
    }
    out.toSeq
  }

  /** Shared tail of every provider `run` composition: commit the
    * assembled envelopes to the checksummed store and return
    * (row count, digest) — the count comes from the manifest commit
    * just wrote, not a re-scan of the store. */
  private[graft] def commitRun(spark: SparkSession,
      envelopes: org.apache.spark.sql.DataFrame, storeRoot: String,
      providerName: String): (Long, String) = {
    val dest = s"$storeRoot/$providerName"
    val digest = graft.sinks.ResultStore.commit(spark, envelopes, dest)
    (graft.sinks.ResultStore.committedRows(dest), digest)
  }

  /** S1 end-to-end: fetch page 0, read totalResults/resultsPerPage,
    * then every remaining startIndex the reference loop would request
    * (`api.py:122-147`, incl. its trailing page when the total divides
    * evenly). `baseUrl` receives `?startIndex=N`. Returns staged page
    * paths; parse them with `NvdProvider.cves` over the staged directory glob. */
  def nvdWalk(spark: SparkSession, baseUrl: String, stageDir: Path,
      transport: Transport, cfg: Config = Config(),
      sleeper: Double => Unit = s => Thread.sleep((s * 1000).toLong))
      : Seq[Path] = {
    // state = the offsets not yet requested; page 0 plans the rest
    walk[Seq[Long]](Seq(0L), stageDir, transport, cfg, sleeper)(
      offsets => s"$baseUrl?startIndex=${offsets.head}") {
      (path, offsets, idx) =>
        val rest =
          if (idx == 0)
            graft.providers.NvdProvider
              .remainingPageOffsets(spark, path.toString)
          else offsets.tail
        if (rest.isEmpty) None else Some(rest)
    }
  }

  /** S3 end-to-end: GraphQL cursor walk — fetch with no cursor, then
    * follow `pageInfo.endCursor` while `hasNextPage`
    * (`github/parser.py:206-229`). `baseUrl` receives `?after=CURSOR`
    * on continuation requests. Returns staged page paths; parse with
    * `GhsaProvider.advisories` over the staged directory glob. */
  def ghsaWalk(spark: SparkSession, baseUrl: String, stageDir: Path,
      transport: Transport, cfg: Config = Config(),
      sleeper: Double => Unit = s => Thread.sleep((s * 1000).toLong))
      : Seq[Path] = {
    walk[Option[String]](None, stageDir, transport, cfg, sleeper) {
      case None => baseUrl
      // GraphQL cursors are base64 — '+', '/', '=' must be
      // percent-encoded or servers decode '+' as a space
      case Some(cursor) => s"$baseUrl?after=" +
        java.net.URLEncoder.encode(cursor, java.nio.charset.StandardCharsets.UTF_8)
    } { (path, _, _) =>
      graft.providers.GhsaProvider.nextCursor(spark, path.toString)
        .map(Some(_))
    }
  }
}
