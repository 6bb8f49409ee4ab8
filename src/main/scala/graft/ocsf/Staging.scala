package graft.ocsf

import graft.functions.BoundValue
import graft.io.NioLocalFileSystem
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Staging layer: the reference's dbt model
  * `dbt_project/models/staging/stg_ocsf_findings.sql:31-163` re-expressed
  * as one Spark projection.
  *
  * Every correlated `LIMIT 1` scalar subquery (A5) and lateral unnest
  * (J2) of the Postgres model is a within-row higher-order function here
  * — no joins, no decorrelation, one scan (SURVEY §4.2). Postgres
  * `jsonb_agg(DISTINCT)` ordering is reproduced with
  * `array_sort∘array_distinct` (A3), and `jsonb_agg` over zero rows
  * yields NULL — mirrored with empty⇒NULL guards.
  */
object Staging {

  private def raw(field: String): Column = col(s"raw.$field")

  /** A5: first enrichments[] entry with the given name (the reference's
    * correlated `LIMIT 1` subquery, stg:40-45 / 138-160). */
  private def firstEnrichment(name: String): Column =
    try_element_at(
      filter(
        coalesce(raw("enrichments"), Enrichment.emptyEnrichments),
        e => e.getField("name") === name,
      ),
      lit(1),
    )

  private def vulns: Column =
    coalesce(raw("vulnerabilities"), array().cast(OcsfModel.ocsfFinding("vulnerabilities").dataType))

  /** Postgres `jsonb_agg` over zero rows is NULL, not an empty array. */
  private def nullIfEmpty(arr: Column): Column =
    when(size(arr) > 0, arr)

  /** The 20-column staging projection over a landing DataFrame. */
  def transform(landing: DataFrame): DataFrame = {
    val directCwes = transform_(
      filter(vulns, v => v.getField("cwe").getField("uid").isNotNull),
      _.getField("cwe").getField("uid"),
    )
    val relatedCwes = flatten(
      transform_(
        filter(vulns, v => v.getField("cve").getField("related_cwes").isNotNull),
        v =>
          transform_(
            filter(v.getField("cve").getField("related_cwes"), c => c.getField("uid").isNotNull),
            _.getField("uid"),
          ),
      )
    )

    landing.select(
      col("finding_uid"),
      // P1 json path projections (stg:35-36).
      raw("metadata.product.name").as("tool_name"),
      raw("metadata.product.version").as("tool_version"),
      // A5 (stg:40-45).
      try_element_at(firstEnrichment("scan_metadata").getField("data"), lit("scan_run_id"))
        .as("scan_run_id"),
      // P2 epoch-ms with zero guard (stg:47-51).
      graft.expr.OcsfColumns
        .msToTimestampZeroGuard(raw("finding_info.created_time"))
        .cast(TimestampType)
        .as("detected_at"),
      // P4 (stg:53).
      col("loaded_at").as("staging_loaded_at"),
      raw("finding_info.title").as("finding_title"),
      raw("finding_info.desc").as("finding_description"),
      raw("finding_info.src_url").as("finding_src_url"),
      raw("severity").as("finding_severity"),
      raw("status").as("finding_status"),
      raw("activity_name").as("finding_activity_name"),
      raw("remediation.desc").as("finding_remediation"),
      // P3 (stg:67).
      coalesce(raw("resources"), array().cast(OcsfModel.ocsfFinding("resources").dataType))
        .as("resources_jsonb"),
      // A2 lateral flatten (stg:70-77).
      nullIfEmpty(
        flatten(
          transform_(
            filter(vulns, v => v.getField("affected_packages").isNotNull),
            _.getField("affected_packages"),
          )
        )
      ).as("affected_packages_jsonb"),
      // F15 per-vuln projection (stg:84-94).
      nullIfEmpty(
        transform_(
          filter(
            vulns,
            v => v.getField("affected_packages").isNotNull || v.getField("affected_code").isNotNull,
          ),
          v =>
            struct(
              v.getField("affected_code").as("affected_code"),
              v.getField("affected_packages").as("affected_packages"),
            ),
        )
      ).as("vulnerabilities_subset_jsonb"),
      // T1 + A3: direct ∪ CVE-related CWEs, distinct, sorted (stg:96-116).
      nullIfEmpty(array_sort(array_distinct(concat(directCwes, relatedCwes)))).as("finding_cwes"),
      // A3 (stg:118-126).
      nullIfEmpty(
        array_sort(
          array_distinct(
            transform_(
              filter(vulns, v => v.getField("cve").getField("uid").isNotNull),
              _.getField("cve").getField("uid"),
            )
          )
        )
      ).as("finding_cves"),
      // F14 + A3 (stg:128-136).
      nullIfEmpty(
        array_sort(
          array_distinct(
            flatten(
              transform_(
                filter(vulns, v => v.getField("references").isNotNull),
                _.getField("references"),
              )
            )
          )
        )
      ).as("finding_references"),
      // A5 (stg:138-160).
      firstEnrichment("rh_sdlc_source").getField("value").as("finding_source"),
      firstEnrichment("affected_components").as("enrichments_affected_components_jsonb"),
      firstEnrichment("jira_status").as("enrichments_jira_status_jsonb"),
    )
  }

  /** The staging columns as declared: [[transform]]'s output over
    * [[Landing.schema]]. Analysis only, no Spark job; derived once per
    * process, like [[Landing.schema]]. */
  def schema(spark: SparkSession): StructType = {
    if (declared == null)
      declared = transform(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        Landing.schema(spark))).schema
    declared
  }
  @volatile private var declared: StructType = _

  /** Declared-schema reads: no footer merge or schema-inference job. */
  private def readLanding(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Landing.schema(spark)).parquet(path)

  private def readStaging(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark)).parquet(path)

  /** `max(staging_loaded_at)` in microseconds since the epoch: the
    * watermark's exact form, as an aggregate and as an observed
    * metric. */
  private val maxLoadedAtMicros: Column = unix_micros(max(col("staging_loaded_at")))

  private def maxLoadedAt(staging: DataFrame): Option[Long] = {
    val r = staging.agg(maxLoadedAtMicros).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  // `transform` name collides with this object's method.
  private def transform_(arr: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.transform(arr, f)

  /** Landing rows above the staging watermark. `inclusive` keeps the
    * boundary batch (`loaded_at >= w`): a landing parquet commit is not
    * atomic to a concurrent reader, so a staging run racing the monitor
    * can list only PART of a batch whose rows all share one loaded_at —
    * with a strict `>` the unseen rest of that batch would fail the
    * next run's watermark forever. [[mergeRun]] uses the inclusive form
    * (re-reading boundary rows is idempotent through the key upsert);
    * [[incrementalRun]] is append-only, so it keeps the reference's
    * strict semantics and must not run concurrently with a landing
    * commit (the reference's own cron-vs-monitor constraint). */
  private def freshAbove(
      landing: DataFrame,
      watermarkMicros: Option[Long],
      inclusive: Boolean,
  ): DataFrame =
    watermarkMicros match {
      case Some(us) =>
        // bound, not inlined: each run's new watermark reuses the last
        // run's compiled filter (loaded_at carries no parquet
        // statistics, so a literal would prune nothing more)
        val w = BoundValue.bound_value(timestamp_micros(lit(us)))
        landing
          .filter(col("loaded_date") >= to_date(w))
          .filter(if (inclusive) col("loaded_at") >= w else col("loaded_at") > w)
      case None => landing
    }

  /** P5/ST4: incremental high-watermark materialization. Reads the
    * current staging max(staging_loaded_at) (driver-side scalar — the
    * one place the reference's incremental runner genuinely needs an
    * action), filters the landing scan above it, appends. Only the
    * `loaded_date` partitions older than the watermark's day are
    * pruned: landing writes `loaded_at` as parquet INT96, which carries
    * no min/max statistics, so every file of the watermark's day and
    * later is read and filtered row by row. Landing and staging are
    * read by their declared schemas.
    *
    * Returns the APPENDED batch's row count, observed on the write job
    * itself (`Dataset.observe`) — no post-write rescan of the staging
    * table, which at 100 TB would be a gratuitous extra pass.
    */
  def incrementalRun(spark: SparkSession, landingPath: String, stagingPath: String): Long = {
    val landing = readLanding(spark, landingPath)
    val watermark =
      if (exists(spark, stagingPath)) maxLoadedAt(readStaging(spark, stagingPath)) else None

    val fresh = freshAbove(landing, watermark, inclusive = false)
    val obs = Observation()
    val out = enforceUidPattern(transform(fresh), storedUidPattern(spark, stagingPath))
      .observe(obs, count(lit(1)).as("rows"))
    // uid-sorted files for row-group skipping (see mergeRun's note)
    out.sortWithinPartitions("finding_uid").write.options(NioLocalFileSystem.options)
      .mode("append").parquet(stagingPath)
    obs.get("rows").asInstanceOf[Long]
  }

  /** ST5 hardening: idempotent reingestion. [[incrementalRun]] is the
    * reference's semantics — watermark-append, so re-dropping an input
    * file duplicates its findings (new loaded_at, same finding). This
    * mode upserts on (finding_uid, scan_run_id): a re-ingested finding
    * REPLACES its previous staging row.
    *
    * Plain parquet has no transactions, so the upsert is a
    * compact-and-swap: each run writes a full new version directory
    * `v=N` under `stagingRoot`, then swaps the `_CURRENT` pointer file.
    * Readers ([[readCurrent]]) resolve the pointer — or, if the pointer
    * is mid-swap, the highest complete version — so they always see one
    * consistent snapshot, never a half-written mix. Single writer
    * assumed (the reference's ingestion is a single monitor loop);
    * superseded versions are retained for time travel until
    * [[vacuumVersionsPolicy]].
    *
    * The merge is one keyed pass, [[upsert]]: a fresh row replaces the
    * snapshot's row of its key, and among fresh duplicates the latest
    * load wins (ties are payload-identical re-reads of one file).
    *
    * Scale notes: the merge runs two Spark jobs at every size
    * (under AQE, the window's shuffle map stage and the compaction
    * write); the fresh rows are computed once. The snapshot is
    * shuffled once by key on every merge, and the write's parallelism
    * follows the shuffle, not the previous version's files. A
    * null-safe anti-join of the snapshot against the fresh keys would
    * leave it unshuffled only while Spark broadcast the keys, and that
    * choice follows the landing table's size, not the batch's: with a
    * 1M-row landing table it planned a sort-merge join, shuffling the
    * snapshot, for a 250-row arrival. `MergeScaleProbe` (test scope)
    * times the merge against the snapshot's size; PERF.md "Arrival
    * fixed costs" has the figures for both plans. Either way the
    * whole snapshot is rewritten into the new version; at 100 TB that
    * is a full-table rewrite per merge, which a version layout that
    * references unchanged files (manifests) would avoid. The fresh
    * read prunes landing by `loaded_date` only (see [[incrementalRun]]),
    * so every merge reads all of the watermark day's landing files.
    * The watermark of record is committed with each version:
    * the compaction write observes the snapshot's
    * `max(staging_loaded_at)` and stores it as `v=N/_WATERMARK` before
    * the pointer swap, so the next run reads one small file instead of
    * aggregating the snapshot. Only a version written before watermarks
    * were committed has no such file; it falls back to the aggregate
    * once and the next commit writes the file. Landing and staging are
    * read by their declared schemas ([[Landing.schema]], [[schema]]),
    * so no run pays a job per landing file footer or a schema
    * inference. */
  def mergeRun(
      spark: SparkSession,
      landingPath: String,
      stagingRoot: String,
  ): Long = mergeRun(spark, landingPath, stagingRoot, () => ())

  /** [[mergeRun]] with a test seam: `beforeCommit` runs after the new
    * version directory is fully written, immediately before the commit
    * (lock + CAS pointer swap) — the window a concurrent writer's
    * commit must be detected in. */
  private[ocsf] def mergeRun(
      spark: SparkSession,
      landingPath: String,
      stagingRoot: String,
      beforeCommit: () => Unit,
  ): Long = {
    val rootPath = new org.apache.hadoop.fs.Path(stagingRoot)
    // the root's own Hadoop writes (the first run's mkdirs) take the writers' map
    val rootFs   = rootPath.getFileSystem(
      spark.sessionState.newHadoopConfWithOptions(NioLocalFileSystem.options))
    // Single-writer enforcement (the transactionality the reference
    // inherits from Postgres): remember the raw pointer as of this
    // run's read, and commit only if it has not moved since (CAS),
    // under a short exclusive-create lock. A concurrent writer that
    // committed while this run was compacting fails THIS run loudly
    // instead of letting it silently clobber the newer snapshot.
    val basePtr = readSideFile(rootFs, rootPath, "_CURRENT")
    val landing = readLanding(spark, landingPath)
    // Writers resolve the current snapshot ONLY through the pointer —
    // never [[currentVersion]]'s highest-complete-version fallback.
    // With never-reused version numbers, a CAS-aborted run can leave a
    // complete-but-never-committed directory numbered above the
    // pointer; a writer that fell back to it would merge (and then
    // commit) data that was never current. Readers keep the fallback
    // as a recovery heuristic for pointer loss.
    val current: Option[DataFrame] = basePtr.map(v => readStaging(spark, s"$stagingRoot/v=$v"))
    val watermark: Option[Long] = basePtr.flatMap { v =>
      readWatermark(rootFs, new org.apache.hadoop.fs.Path(rootPath, s"v=$v"))
        .getOrElse(maxLoadedAt(current.get))
    }
    val fresh = freshAbove(landing, watermark, inclusive = true)
    val freshT = enforceUidPattern(transform(fresh), storedUidPattern(spark, stagingRoot))
    val merged = upsert(freshT, current)
    // Version numbers are never reused: `next` is one past BOTH the
    // committed version and any version directory already on disk
    // (abandoned pre-commit leftovers of a crashed/aborted run, or a
    // concurrent writer's in-flight compaction), and the number is
    // CLAIMED via an exclusive-create side file before anything is
    // written — two writers racing from the same base settle on
    // different directories at claim time, so no run ever overwrites
    // another run's directory and a failed commit can always be
    // retried. The commit CAS below then decides which claimed version
    // becomes current.
    val existingMax = versionDirs(rootFs, rootPath).lastOption.map(_._1)
    var next = (basePtr.map(_.toLong).getOrElse(-1L) max existingMax.getOrElse(-1L)) + 1
    if (!rootFs.exists(rootPath)) rootFs.mkdirs(rootPath)
    var claimed   = false
    var attempts  = 0
    while (!claimed) {
      attempts += 1
      if (attempts > 1000)
        throw new IllegalStateException(
          s"could not claim a version number under $stagingRoot after 1000 attempts"
        )
      val claimFile = new org.apache.hadoop.fs.Path(rootPath, s"_CLAIM_v$next")
      val created   = exclusiveCreate(rootFs, claimFile) // false: another writer holds this number
      if (!created) next += 1
      else
        // Winning the claim does not prove the number is unused: a
        // competing writer can have claimed, written, committed, and
        // RELEASED this number entirely between our directory listing
        // (existingMax) and our create. Its version directory — possibly
        // the one `_CURRENT` now points at — must never be overwritten,
        // so re-check the directory after the claim and advance past it
        // (dropping our claim file; the directory itself guards the
        // number through existingMax, and stale claims must not pile up).
        // The re-check runs in its OWN try: once our claim file exists, a
        // transient IO failure here must still best-effort delete it
        // before advancing — otherwise the orphaned claim permanently
        // blocks this number for every future writer (each would hit
        // create-failure and skip past it forever).
        try {
          if (rootFs.exists(new org.apache.hadoop.fs.Path(rootPath, s"v=$next"))) {
            rootFs.delete(claimFile, false)
            next += 1
          } else claimed = true
        } catch {
          case _: java.io.IOException =>
            try rootFs.delete(claimFile, false)
            catch { case _: java.io.IOException => () } // best effort
            next += 1
        }
    }
    val versionDir = s"$stagingRoot/v=$next"
    // uid-sorted files — the Spark analog of the reference's btree
    // index on finding_uid (`add_new_indexes.sql:19-26` at
    // `raw_ocsf_findings.sql:12-15`): parquet row-group min/max stats
    // skip on uid point lookups. The sort adds no exchange: it orders
    // the keyed window's shuffle partitions, so the file count follows
    // those partitions as AQE coalesces them, not the input's files.
    // The snapshot's row count and watermark are observed on the write
    // itself; the new version is never rescanned for them.
    try {
      val obs = Observation()
      merged
        .observe(obs, count(lit(1)).as("rows"), maxLoadedAtMicros.as("watermark"))
        .sortWithinPartitions("finding_uid")
        .write
        .options(NioLocalFileSystem.options)
        .mode("overwrite")
        .parquet(versionDir)
      val m = obs.get
      // committed with the version: written before the pointer swap
      writeSideFile(rootFs, new org.apache.hadoop.fs.Path(versionDir), "_WATERMARK",
        Option(m("watermark")).fold("")(_.toString))
      beforeCommit()
      commitPointer(rootFs, rootPath, next, basePtr)
      m("rows").asInstanceOf[Long]
    } finally
      // The claim file's job ends once the outcome is on disk: either
      // the version directory now exists (and guards the number through
      // existingMax) or nothing was written (and the number is free to
      // reuse). Always releasing keeps the root free of stale claims.
      rootFs.delete(new org.apache.hadoop.fs.Path(rootPath, s"_CLAIM_v$next"), false)
  }

  /** [[mergeRun]]'s keyed pass: the fresh rows (tagged 1) and the
    * snapshot (tagged 0) are unioned, and a window over
    * `(finding_uid, scan_run_id)` keeps one row per key, ordered by tag,
    * then staging_loaded_at, both descending. A window partition
    * groups NULL keys together, which is the null-safe (`<=>`) key
    * match the upsert needs for findings without a scan_run_id. */
  private[ocsf] def upsert(fresh: DataFrame, current: Option[DataFrame]): DataFrame = {
    val tagged = fresh.withColumn("__fresh", lit(1))
    val latestFirst = Window
      .partitionBy(col("finding_uid"), col("scan_run_id"))
      .orderBy(col("__fresh").desc, col("staging_loaded_at").desc)
    current
      .fold(tagged)(c => tagged.unionByName(c.withColumn("__fresh", lit(0))))
      .withColumn("__rn", row_number().over(latestFirst))
      .filter(col("__rn") === 1)
      .drop("__rn", "__fresh")
  }

  /** Atomically create an empty marker file, returning false if it
    * already exists — the mutual-exclusion primitive under both the
    * version claim and the commit lock.
    *
    * On HDFS-semantics filesystems `create(overwrite=false)` IS the
    * atomic primitive (a namespace operation serialized by the
    * NameNode). Hadoop's LOCAL shim, however, implements it as
    * check-then-create — two racing writers can both "win", which the
    * 100-schedule chaos spec reliably demonstrates (both claim one
    * version number; one writer's `overwrite` then deletes the other's
    * in-flight directory). For local paths, route through the
    * platform's real O_EXCL create (`Files.createFile`) instead. Plain
    * object stores (no atomic create-if-absent) need a coordination
    * service or a transactional table format for multi-writer — the
    * documented deployment boundary of this bespoke protocol. */
  private def exclusiveCreate(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
  ): Boolean = {
    localFile(fs, p) match {
      case Some(f) =>
        try { java.nio.file.Files.createFile(f.toPath); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case None =>
        // only "already exists" means a concurrent writer; any other IO
        // failure is infrastructure trouble and must SURFACE — mapping
        // it to false would tell the operator to hunt for a lock file
        // that does not exist while the real error is swallowed
        try { fs.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException        => false
        }
    }
  }

  /** Commit = exclusive-create lock + compare-and-swap on `_CURRENT`.
    * The lock (`create` with overwrite=false is atomic on HDFS-semantics
    * filesystems) closes the check→rename window; the CAS detects a
    * writer that committed any time since this run read its base
    * version. Either conflict aborts THIS run with the other writer's
    * snapshot intact. A crash between lock and unlock leaks the lock
    * file — remove `_COMMIT_LOCK` manually after verifying no writer is
    * live (the lock guards milliseconds of pointer swap, not the
    * multi-minute compaction, so a leaked lock is visible, not
    * corrupting). */
  private def commitPointer(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      version: Long,
      expected: Option[String],
  ): Unit = {
    val lock = new org.apache.hadoop.fs.Path(root, "_COMMIT_LOCK")
    if (!exclusiveCreate(fs, lock))
      throw new java.util.ConcurrentModificationException(
        s"commit lock $lock is held — another writer is mid-commit (or crashed holding " +
          "it; verify and remove the lock file)"
      )
    try {
      val now = readSideFile(fs, root, "_CURRENT")
      if (now != expected)
        throw new java.util.ConcurrentModificationException(
          s"_CURRENT moved from ${expected.getOrElse("<absent>")} to ${now.getOrElse("<absent>")} " +
            "while this mergeRun was compacting — another writer committed; aborting instead of " +
            "clobbering its snapshot"
        )
      writeSideFile(fs, root, "_CURRENT", version.toString)
    } finally fs.delete(lock, false)
  }

  /** The active staging snapshot under a [[mergeRun]] root: `_CURRENT`
    * pointer, falling back to the highest complete (`_SUCCESS`-marked)
    * version while a swap is in flight. */
  def readCurrent(spark: SparkSession, stagingRoot: String): Option[DataFrame] =
    currentVersion(spark, stagingRoot).map(v => readStaging(spark, s"$stagingRoot/v=$v"))

  def currentVersion(spark: SparkSession, stagingRoot: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(stagingRoot)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSideFile(fs, root, "_CURRENT").map(_.toLong).orElse(
      versionDirs(fs, root)
        .filter { case (_, s) => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")) }
        .lastOption
        .map(_._1)
    )
  }

  /** The `v=<digits>` version directories under a staging root, in
    * version order — the one listing behind version allocation, the
    * pointer fallback and both vacuums. The match is strict: a stray
    * operator-created entry (v=backup, v=3.old) must not crash any of
    * them. */
  private def versionDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
  ): Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
    if (!fs.exists(root)) Seq.empty
    else
      fs.listStatus(root).toSeq
        .collect {
          case s if s.isDirectory && s.getPath.getName.matches("v=\\d+") =>
            s.getPath.getName.stripPrefix("v=").toLong -> s
        }
        .sortBy(_._1)

  /** Atomic side-file swap shared by every underscore-prefixed metadata
    * file (`_CURRENT`, `_UID_PATTERN`, `v=N/_WATERMARK`): write to
    * `.tmp`, rename into place with OVERWRITE — a single atomic
    * replacement, so readers never observe the file absent mid-swap.
    * (The pre-FileContext form deleted then renamed, leaving a gap the
    * pointer's highest-complete-version fallback had to cover; the
    * fallback now only matters for genuine pointer loss.)
    *
    * Local paths take the platform's atomic replace
    * (`Files.move` with `ATOMIC_MOVE`), the routing [[exclusiveCreate]]
    * uses: one rename system call. Hadoop's `FileContext` rename runs
    * on a `RawLocalFileSystem` of its own, not the one `fs.file.impl`
    * names, and without `libhadoop` it forks a `readlink` for each of
    * its link-status lookups. No checksum file is written; a stale one
    * left by an earlier Hadoop write of the name is removed before the
    * swap, since the checksummed reader verifies against it. */
  private def writeSideFile(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      name: String,
      value: String,
  ): Unit = {
    localFile(fs, root).map(_.toPath) match {
      case Some(dir) =>
        import java.nio.file.{Files, StandardCopyOption}
        val tmp = dir.resolve(s"$name.tmp")
        Files.createDirectories(dir)
        Files.write(tmp, value.getBytes("UTF-8"))
        Files.deleteIfExists(dir.resolve(s".$name.crc"))
        Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      case None =>
        val tmp = new org.apache.hadoop.fs.Path(root, s"$name.tmp")
        val ptr = new org.apache.hadoop.fs.Path(root, name)
        if (!fs.exists(root)) fs.mkdirs(root)
        val out = fs.create(tmp, true)
        try out.write(value.getBytes("UTF-8"))
        finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, fs.getConf)
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    ()
  }

  /** The local file behind `p` when `fs` is Hadoop's local filesystem. */
  private def localFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
  ): Option[java.io.File] = fs match {
    case lf: org.apache.hadoop.fs.LocalFileSystem    => Some(lf.pathToFile(p))
    case _: org.apache.hadoop.fs.RawLocalFileSystem => Some(new java.io.File(p.toUri.getPath))
    case _                                           => None
  }

  /** A version's watermark of record, in microseconds since the epoch:
    * `Some(None)` for an empty version, `None` when the version has no
    * `_WATERMARK` file (written before watermarks were committed). */
  private def readWatermark(
      fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path,
  ): Option[Option[Long]] =
    if (fs.exists(new org.apache.hadoop.fs.Path(versionDir, "_WATERMARK")))
      Some(readSideFile(fs, versionDir, "_WATERMARK").map(_.toLong))
    else None

  private def readSideFile(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      name: String,
  ): Option[String] = {
    val f = new org.apache.hadoop.fs.Path(root, name)
    if (fs.exists(f)) {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim).filter(_.nonEmpty)
      finally in.close()
    } else None
  }

  /** A version's snapshot time = its commit marker's (`_SUCCESS`)
    * modification time; falls back to the directory's own mtime for
    * uncommitted leftovers so aborted writes still age out. */
  private def versionWriteTime(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.FileStatus,
  ): Long = {
    val marker = new org.apache.hadoop.fs.Path(dir.getPath, "_SUCCESS")
    if (fs.exists(marker)) fs.getFileStatus(marker).getModificationTime
    else dir.getModificationTime
  }

  /** Retention for [[mergeRun]] version directories, in one listing
    * pass — the time-travel twin of the landing layer's
    * [[Landing.retentionVacuumPolicy]] (the reference's documented
    * retention requirement, `raw_ocsf_findings.sql:33-34`): always
    * retain the active version and the newest `keep` versions (at least
    * one — a reader must always have a snapshot to resolve); among the
    * rest, drop only those whose snapshot write time is older than
    * `maxAge`. The count bound caps storage growth, the age bound
    * preserves a recent-history time-travel window — the usual pairing
    * for snapshot stores. Directory-level deletes only, never a row
    * scan. Returns dropped versions, oldest first. */
  def vacuumVersionsPolicy(
      spark: SparkSession,
      stagingRoot: String,
      keep: Int,
      maxAge: java.time.Duration,
      nowMillis: Long = System.currentTimeMillis(),
  ): Seq[Long] = {
    val root   = new org.apache.hadoop.fs.Path(stagingRoot)
    val fs     = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = nowMillis - maxAge.toMillis
    val active = currentVersion(spark, stagingRoot)
    val dropped = versionDirs(fs, root)
      .dropRight(math.max(keep, 1)) // never drop the newest
      .filterNot { case (v, _) => active.contains(v) }
      .filter { case (_, s) => versionWriteTime(fs, s) < cutoff }
    dropped.foreach { case (_, s) => fs.delete(s.getPath, true) }
    dropped.map(_._1)
  }

  /** Drop ABANDONED version directories — the complement of
    * [[vacuumVersionsPolicy]]'s "never drop the newest" rule, which
    * deliberately shields the numerically-newest directory even when
    * it was never committed (a CAS-aborted or crashed run's leftover,
    * numbered above the pointer because version numbers are never
    * reused). Such a directory is garbage the moment its writer is
    * gone, but it used to linger until a NEWER successful commit
    * out-numbered it. This pass targets it directly and safely:
    * only directories STRICTLY ABOVE the committed pointer qualify
    * (committed history is the other policy's business), only when no
    * `_CLAIM_v<n>` file exists (an in-flight writer still owns the
    * number), and only past `maxAge` (a writer between claim-release
    * and commit is seconds old, not hours). No pointer → nothing is
    * provably abandoned → no-op. Returns dropped versions. */
  def vacuumAbandoned(
      spark: SparkSession,
      stagingRoot: String,
      maxAge: java.time.Duration,
      nowMillis: Long = System.currentTimeMillis(),
  ): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(stagingRoot)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = readSideFile(fs, root, "_CURRENT").map(_.toLong) match {
      case Some(p) => p
      case None    => return Seq.empty
    }
    val cutoff = nowMillis - maxAge.toMillis
    val dropped = versionDirs(fs, root)
      .filter { case (v, s) =>
        v > committed &&
        !fs.exists(new org.apache.hadoop.fs.Path(root, s"_CLAIM_v$v")) &&
        versionWriteTime(fs, s) < cutoff
      }
    dropped.foreach { case (_, s) => fs.delete(s.getPath, true) }
    dropped.map(_._1)
  }

  /** "Has data" = contains something a parquet reader would not skip.
    * Underscore/dot-prefixed entries (`_UID_PATTERN`, `_CURRENT`,
    * `_SUCCESS`, checksums) are metadata: a directory holding only
    * those must read as empty, or the watermark read would throw
    * UNABLE_TO_INFER_SCHEMA on e.g. a fresh root that only has a
    * constraint installed. */
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs
      .listStatus(p)
      .exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
  }

  /** P7: the reference's accepted-values data tests
    * (`dbt_project/tests/generic/severity_levels.sql`, `status.sql`) —
    * returns the failing rows (empty = pass). */
  val SeverityLevels: Seq[String] =
    Seq("Critical", "High", "Medium", "Low", "Informational", "Unknown", "Other")
  val StatusNames: Seq[String] =
    Seq("Unknown", "New", "InProgress", "Suppressed", "Resolved", "Archived", "Other")

  def failingSeverities(staging: DataFrame): DataFrame =
    staging.filter(!col("finding_severity").isin(SeverityLevels: _*))

  def failingStatuses(staging: DataFrame): DataFrame =
    staging.filter(!col("finding_status").isin(StatusNames: _*))

  /** P6: the configurable finding_uid format check
    * (`dbt_project/macros/add_finding_uid_constraint.sql:59-95`) as a
    * validation filter — returns violating rows. */
  def failingUidFormat(staging: DataFrame, pattern: String): DataFrame =
    staging.filter(!col("finding_uid").rlike(pattern))

  /** The UID pattern currently "installed" on a staging root — the
    * CHECK constraint's pattern in the reference
    * (`add_finding_uid_constraint.sql:66-76` reads it back from
    * `pg_constraint`). Stored as an underscore-prefixed side file so
    * parquet readers skip it, like `_CURRENT`. */
  def storedUidPattern(spark: SparkSession, stagingPath: String): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(stagingPath)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSideFile(fs, root, "_UID_PATTERN")
  }

  /** Constraint reconciliation, the full lifecycle of the reference's
    * post-hook macro (`add_finding_uid_constraint.sql:59-95`):
    *
    *  - `pattern=None`  → skip entirely (generic upstream usage; an
    *    already-installed constraint is left in place, as the macro
    *    leaves the Postgres constraint).
    *  - unchanged       → no-op (`existing_pattern LIKE '%pattern%'`).
    *  - changed/new     → re-validate ALL existing rows against the new
    *    pattern and FAIL LOUD with a sample of violating UIDs if any —
    *    the macro's intentional CHECK-violation on ALTER TABLE — else
    *    atomically store the new pattern.
    *
    * Works on both staging layouts: a plain incremental parquet dir and
    * a [[mergeRun]] version root. Returns true iff the constraint
    * changed. */
  def reconcileUidConstraint(
      spark: SparkSession,
      stagingPath: String,
      pattern: Option[String],
      sampleSize: Int = 5,
  ): Boolean = pattern match {
    case None => false
    case Some(p) if storedUidPattern(spark, stagingPath).contains(p) => false
    case Some(p) =>
      readStagingAny(spark, stagingPath).foreach { existing =>
        val bad = failingUidFormat(existing, p).select("finding_uid").limit(sampleSize)
        val sample = bad.collect().map(_.getString(0))
        if (sample.nonEmpty)
          throw new IllegalStateException(
            s"cannot install finding_uid pattern '$p': existing rows violate it " +
              s"(sample: ${sample.mkString(", ")}); fix the data or full-refresh the table"
          )
      }
      val root = new org.apache.hadoop.fs.Path(stagingPath)
      val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      writeSideFile(fs, root, "_UID_PATTERN", p)
      true
  }

  /** Either staging layout, for reconciliation reads: a [[mergeRun]]
    * version root resolves through `_CURRENT`, a plain incremental dir
    * reads directly. */
  private def readStagingAny(spark: SparkSession, stagingPath: String): Option[DataFrame] =
    readCurrent(spark, stagingPath)
      .orElse(if (exists(spark, stagingPath)) Some(readStaging(spark, stagingPath)) else None)

  /** Insert-time enforcement of the installed constraint — the half
    * Postgres does on every INSERT. `assert_true` rides the write job's
    * own scan (codegen'd, no extra pass over the batch); a violation
    * aborts the job before any file is committed, so the table is left
    * untouched, like an aborted transaction. */
  private def enforceUidPattern(df: DataFrame, pattern: Option[String]): DataFrame =
    pattern.fold(df) { p =>
      df.filter(
        assert_true(
          col("finding_uid").isNull || col("finding_uid").rlike(p),
          concat(lit(s"finding_uid violates stored pattern '$p': "), col("finding_uid")),
        ).isNull
      )
    }
}
