package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Keyed, checksummed, atomically-promoted result store — the Spark-first
  * re-expression of vunnel's result layer:
  *
  *  - envelope rows `(identifier, schema, item)` (`result.py:33-37`)
  *  - `OR REPLACE` / `OR IGNORE` keyed-write semantics (`result.py:186-208`)
  *    as last-wins / first-wins dedup over an explicit precedence column
  *    (never row order — SURVEY §7.4 hard part 3)
  *  - atomic tmp→final promote (`result.py:259-302`) as a staging
  *    directory renamed into place after a successful write
  *  - xxh64 checksum manifest of the result files (`workspace.py:268-284`)
  *  - incremental merge: new batch upserted over the previous snapshot
  *    (`result.py:259-267` "copy previous DB then INSERT OR REPLACE")
  *
  * Scale: identifiers are hash-partitioned by Spark's normal shuffle; the
  * upsert is a unionByName + window dedup where the window key is the
  * identifier — one shuffle, no driver-side state. At 100 TB the store
  * would add `partitionBy(provider)` so per-provider refreshes use dynamic
  * partition overwrite (K4 fragment semantics) instead of full rewrites.
  */
object ResultStore {

  sealed trait WriteMode
  /** last write (highest precedence) wins — SQLite INSERT OR REPLACE. */
  case object Replace extends WriteMode
  /** first write wins — SQLite INSERT OR IGNORE. */
  case object Ignore extends WriteMode

  /** Dedup envelopes by identifier under explicit precedence order.
    * `precedence` must be monotonically increasing across batches
    * (e.g. a batch sequence number); ties break by the tieBreak column
    * for full determinism. */
  def dedupKeyed(df: DataFrame, mode: WriteMode,
      idCol: String = "identifier", precCol: String = "precedence"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = mode match {
      case Replace => col(precCol).desc
      case Ignore => col(precCol).asc
    }
    val w = Window.partitionBy(col(idCol)).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Merge a new batch over an existing snapshot (incremental store I4):
    * rows in `batch` replace same-identifier rows in `snapshot`. */
  def upsert(snapshot: DataFrame, batch: DataFrame,
      idCol: String = "identifier"): DataFrame = {
    val s = snapshot.withColumn("precedence", lit(0))
    val b = batch.withColumn("precedence", lit(1))
    dedupKeyed(s.unionByName(b), Replace, idCol).drop("precedence")
  }

  /** The envelope row every store holds (`result.py:33-37`). [[commit]]
    * accepts nothing else, so [[read]] can pin it instead of inferring
    * it from a parquet footer, which costs a Spark job per read. */
  private val EnvelopeSchema = "identifier STRING, schema STRING, item STRING"
  private val envelopeType = StructType.fromDDL(EnvelopeSchema)

  /** Fails, naming the offending columns, unless `df` is exactly the
    * envelope string triple (any column order). */
  private def requireEnvelope(df: DataFrame, destDir: String): Unit = {
    val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val want = envelopeType.fields.map(f => f.name -> f.dataType).toMap
    val extra = got.keySet -- want.keySet
    val missing = want.keySet -- got.keySet
    val mistyped = want.collect { case (n, t) if got.get(n).exists(_ != t) =>
      s"$n ${got(n).simpleString}" }
    if (extra.nonEmpty || missing.nonEmpty || mistyped.nonEmpty)
      throw new IllegalArgumentException(
        s"commit to $destDir: not an envelope frame ($EnvelopeSchema):" +
          Seq("extra column(s)" -> extra, "missing column(s)" -> missing,
            "non-string column(s)" -> mistyped)
            .collect { case (what, cs) if cs.nonEmpty =>
              s" $what ${cs.toSeq.sorted.mkString(", ")}" }.mkString(";"))
  }

  /** Write results + manifest to a staging dir, then atomically promote.
    * Returns the manifest digest (digest-of-sorted-listing, the
    * workspace.py:268-284 scheme, with Spark's xxhash64). `df` must be
    * an envelope frame (`identifier`, `schema`, `item`, all strings);
    * anything else throws before a file is written.
    *
    * Two Spark actions: the write, then one aggregate over the written
    * files that yields both the digest and the manifest's row count.
    *
    * `df` MAY read from `destDir` itself (the upsert path): it is fully
    * materialized into staging before the promote. But the caller must
    * not re-execute `df` after commit — its lazy plan still references
    * the replaced files; use [[read]] or [[committedRows]] instead. */
  def commit(spark: SparkSession, df: DataFrame, destDir: String): String = {
    requireEnvelope(df, destDir)
    val dest = Paths.get(destDir)
    val staging = Paths.get(destDir + ".staging")
    deleteRecursive(staging)

    df.select(envelopeType.fieldNames.map(col).toSeq: _*)
      .write.mode(SaveMode.Overwrite)
      .parquet(staging.resolve("results").toString)

    // manifest: xxh64 of each row's canonical form, sorted by identifier
    // (deterministic listing order, O2), then digest-of-listing. The
    // sort lives INSIDE the aggregate (sort_array over the collected
    // pairs): a plain orderBy before a global collect_list is not
    // order-stable — the final aggregate merges per-partition partial
    // lists in shuffle-fetch arrival order, so the same store could
    // digest differently across runs once the listing spans partitions
    // (invisible at test scale, where AQE coalesces to one partition).
    // The single aggregation task holds (identifier, 8-byte hash)
    // pairs — the listing itself, same scale as the reference's
    // driver-built checksum listing (workspace.py:268-284), not the
    // store's payload bytes. The row count rides the same aggregate.
    val listing = read(spark, staging.toString)
      .select(col("identifier"),
        xxhash64(col("identifier"), col("schema"), col("item")).as("h"))
      .agg(xxhash64(array_join(transform(
        sort_array(collect_list(struct(col("identifier"), col("h")))),
        s => concat_ws(":", s.getField("identifier"), s.getField("h"))),
        "\n")).as("digest"), count(lit(1)).as("rows"))
      .head()

    val digest = java.lang.Long.toHexString(listing.getLong(0))
    Files.writeString(staging.resolve("manifest.txt"),
      s"xxh64:$digest\nrows:${listing.getLong(1)}\n")

    // atomic promote: move aside old, rename staging into place
    val old = Paths.get(destDir + ".old")
    deleteRecursive(old)
    if (Files.exists(dest)) Files.move(dest, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
    s"xxh64:$digest"
  }

  /** [[commit]] behind the schema-validation gate
    * (`src/vunnel/schema.py:23-36` semantics): envelopes failing their
    * named schema's structural check are written to a `.quarantine`
    * sidecar (never into the store); valid rows commit as usual. With
    * `strict = true` any invalid envelope fails the commit instead
    * (the reference's raise-on-invalid mode). Returns (manifest digest,
    * quarantined count). */
  def commitValidated(spark: SparkSession, df: DataFrame, destDir: String,
      strict: Boolean = false): (String, Long) = {
    val (good, bad, release) = SchemaGate.validateCached(df)
    try {
      val badCount = bad.count()
      if (strict && badCount > 0)
        throw new IllegalArgumentException(
          s"$badCount envelope(s) fail schema validation; first: " +
            bad.select("identifier", "schema").head().mkString(", "))
      if (badCount > 0)
        bad.write.mode(SaveMode.Overwrite)
          .parquet(Paths.get(destDir + ".quarantine").toString)
      else
        // a clean run must clear the previous run's sidecar — stale
        // quarantine parquet after the producer fixed its records
        // reads as "still failing validation" to anything inspecting
        deleteRecursive(Paths.get(destDir + ".quarantine"))
      (commit(spark, good, destDir), badCount)
    } finally release()
  }

  /** K4: per-ecosystem fragment sink (ubuntu `parser.py:307-373`
    * DELETE_BEFORE_WRITE): dynamic partition overwrite replaces ONLY the
    * partitions present in `batch`; untouched (frozen/EOL, I6) partitions
    * keep their files. At 100 TB this is the difference between rewriting
    * one ecosystem and rewriting the store. */
  def writeFragments(batch: DataFrame, destDir: String,
      partitionCol: String): Unit = {
    // per-write option, NOT a session conf set: mutating the session
    // default would silently turn every later partitioned Overwrite
    // in the same session into a dynamic overwrite (the leak
    // Shards.writeTrainingShards defends against with an explicit
    // "static")
    batch.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(destDir)
  }

  /** Compact a committed store's results to ~`targetBytes` output files
    * (the small-file problem: a 1000-executor incremental pipeline that
    * appends per-run fragments degrades every later scan with
    * thousands of KB-sized files and per-file open/footer costs).
    * Rewrites through the same staged atomic promote as [[commit]], so
    * the manifest digest is recomputed and a crash never leaves a
    * half-compacted store. Row-content-preserving by construction —
    * the manifest's sorted-listing digest is identical before/after. */
  def compact(spark: SparkSession, destDir: String,
      targetBytes: Long = 128L * 1024 * 1024): String = {
    val results = Paths.get(destDir).resolve("results")
    val bytes = Files.walk(results).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // materialize before the promote replaces the files being read
    val df = read(spark, destDir).coalesce(nFiles)
    commit(spark, df, destDir)
  }

  /** Read back a committed store; throws if `destDir` holds none. */
  def read(spark: SparkSession, destDir: String): DataFrame =
    spark.read.schema(envelopeType)
      .parquet(Paths.get(destDir).resolve("results").toString)

  /** The store's manifest line, if committed. */
  def manifest(destDir: String): Option[String] = {
    val p = Paths.get(destDir).resolve("manifest.txt")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Row count from the committed manifest — what [[commit]] already
    * counted, so callers don't re-scan the store for it. */
  def manifestRows(destDir: String): Option[Long] =
    manifest(destDir).flatMap(_.linesIterator
      .collectFirst { case l if l.startsWith("rows:") =>
        l.stripPrefix("rows:").trim.toLong })

  /** [[manifestRows]] of a store [[commit]] just wrote: a missing
    * manifest there means the promote went wrong, so it throws. */
  def committedRows(destDir: String): Long =
    manifestRows(destDir).getOrElse(throw new IllegalStateException(
      s"no manifest row count in $destDir after commit"))

  private def deleteRecursive(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}
