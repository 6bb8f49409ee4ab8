package graft.ocsf

import graft.expr.OcsfColumns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** SARIF 2.1.0 → OCSF conversion as a single Catalyst plan
  * (SURVEY.md §3.1): explode runs × results, per-run metadata carried as
  * columns (the reference's loop-invariant hoisting and run-scoped
  * mutable state become plain projections), the rules lookup as a
  * within-row map (`map_from_entries` + `element_at` — the reference's
  * build-once dict probe, J1, without any join), then one wide `struct`
  * assembly per finding.
  *
  * Reference: `scripts/converters/sarif_to_ocsf.py` — field mappings
  * cited per expression below. No UDFs; the whole conversion stays in
  * WholeStageCodegen and parallelizes per input file split.
  */
object SarifToOcsf {

  /** S1: SARIF file source (multi-line JSON documents, explicit schema). */
  def readSarif(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(OcsfModel.sarifSchema).json(path)

  /** Python truthiness for strings ('' and NULL are absent). */
  private def truthyStr(c: Column): Column = c.isNotNull && c =!= ""
  /** Python truthiness for ints (0 and NULL are absent). */
  private def truthyInt(c: Column): Column = c.isNotNull && c =!= 0

  /** Convert a SARIF DataFrame (one row per file) into one row per OCSF
    * finding, applying `enrichments` in order after the default
    * [[FindingUidGenerator]] (mirroring the reference's constructor
    * chain, `sarif_to_ocsf.py:58-82`). `nowMillis` pins the reference's
    * `datetime.now()` calls for deterministic tests.
    */
  def convert(
      sarif: DataFrame,
      enrichments: Seq[Enrichment] = Nil,
      enableUidGeneration: Boolean = true,
      sdlcType: String = "sast",
      nowMillis: Option[Long] = None,
  ): DataFrame = {
    val now: Column =
      nowMillis.map(m => lit(m)).getOrElse(unix_millis(current_timestamp()))

    // ---- per-run columns (once per run, like the reference) ----
    val runs = sarif.select(explode(col("runs")).as("run"))
    val drv  = col("run.tool.driver")

    // _extract_tool_metadata (:213-234): name defaults UNKNOWN,
    // semanticVersion falls back to version (key omitted ⇒ NULL).
    val toolName    = coalesce(drv.getField("name"), lit(OcsfModel.Unknown))
    val toolVersion = coalesce(drv.getField("semanticVersion"), drv.getField("version"))

    // _extract_created_time (:236-259): first parseable
    // invocations[].startTimeUtc as epoch ms, else now.
    val parsedStarts = filter(
      transform(
        coalesce(col("run.invocations"), array().cast("array<struct<startTimeUtc:string,endTimeUtc:string>>")),
        i => unix_millis(try_to_timestamp(i.getField("startTimeUtc"))),
      ),
      _.isNotNull,
    )
    val createdTime = coalesce(try_element_at(parsedStarts, lit(1)), now)

    // _extract_scan_run_id (:261-292): automationDetails.id → .guid →
    // "<tool>_run_<startTimeUtc>" (raw tool name, first non-null start).
    val firstStart = try_element_at(
      filter(
        transform(
          coalesce(col("run.invocations"), array().cast("array<struct<startTimeUtc:string,endTimeUtc:string>>")),
          _.getField("startTimeUtc"),
        ),
        _.isNotNull,
      ),
      lit(1),
    )
    val scanRunId = coalesce(
      col("run.automationDetails.id"),
      col("run.automationDetails.guid"),
      when(
        firstStart.isNotNull,
        concat(coalesce(drv.getField("name"), lit(OcsfModel.Unknown)), lit("_run_"), firstStart),
      ),
    )

    // _build_rules_lookup (:294-312): dict rule_id -> rule, within-row.
    val namedRules = filter(
      coalesce(drv.getField("rules"), array().cast(ArrayType(OcsfModel.sarifRule))),
      r => r.getField("id").isNotNull,
    )
    val rulesMap = map_from_entries(
      transform(namedRules, r => struct(r.getField("id").as("key"), r.as("value")))
    )

    // The run-level columns are projected before the explode, so each
    // result row carries them and not the whole `run` struct: computed
    // in the exploding select, they would land above the Generate and
    // every result row would hold its run's full results array,
    // O(results²) bytes per file.
    val runCols = Seq("__tool_name", "__tool_version", "__created_time", "__scan_run_id", "__rules")
    val perRun = runs
      .select(
        toolName.as("__tool_name"),
        toolVersion.as("__tool_version"),
        createdTime.as("__created_time"),
        scanRunId.as("__scan_run_id"),
        rulesMap.as("__rules"),
        coalesce(col("run.results"), array().cast(ArrayType(OcsfModel.sarifResult))).as("__results"),
      )
      .select(runCols.map(col) :+ explode(col("__results")).as("r"): _*)

    // ---- per-result expressions (_convert_result, :153-211) ----
    val r    = col("r")
    val rule = try_element_at(col("__rules"), r.getField("ruleId"))

    // _extract_severity (:314-325) via F5.
    val level = r.getField("level")

    // _extract_finding_info (:327-368): title = ruleId[": " shortDesc],
    // desc = message.text or first location's snippet, else "".
    val ruleId    = coalesce(r.getField("ruleId"), lit(OcsfModel.Unknown))
    val shortDesc = rule.getField("shortDescription").getField("text")
    val title     = OcsfColumns.titleBuild(ruleId, shortDesc)
    val loc0      = try_element_at(r.getField("locations"), lit(1))
    val region    = loc0.getField("physicalLocation").getField("region")
    val msgText   = coalesce(r.getField("message").getField("text"), lit(""))
    val snippet   = coalesce(region.getField("snippet").getField("text"), lit(""))
    val desc      = when(truthyStr(msgText), msgText).otherwise(when(truthyStr(snippet), snippet).otherwise(lit("")))

    // _extract_vulnerabilities (:370-446): result CWE else rule CWE
    // (empty list is falsy), location from locations[0]; UNKNOWN CWE
    // when location-only; NULL when neither.
    val resCwe  = r.getField("properties").getField("cwe")
    val ruleCwe = rule.getField("properties").getField("cwe")
    val effCwe  = when(size(resCwe) > 0, resCwe).otherwise(ruleCwe)
    val hasCwe  = size(effCwe) > 0
    val cweStr  = OcsfColumns.cweListJoin(effCwe)

    val filePath  = loc0.getField("physicalLocation").getField("artifactLocation").getField("uri")
    val startLine = region.getField("startLine")
    val endLine   = region.getField("endLine")
    val hasLoc    = truthyStr(filePath) || truthyInt(startLine) || truthyInt(endLine)

    val fileStruct = when(
      truthyStr(filePath),
      struct(
        OcsfColumns.basename(filePath).as("name"),
        filePath.as("path"),
        lit(OcsfModel.FileTypeRegular).as("type_id"),
      ),
    )
    val affectedCode = when(
      hasLoc,
      array(
        struct(
          fileStruct.as("file"),
          when(truthyInt(startLine), startLine).as("start_line"),
          when(truthyInt(endLine), endLine).as("end_line"),
        )
      ),
    )
    val cweStruct = when(hasCwe, struct(cweStr.as("uid")))
      .otherwise(when(hasLoc, struct(lit(OcsfModel.Unknown).as("uid"))))
    val vulnerability = struct(
      cweStruct.as("cwe"),
      lit(null).cast(OcsfModel.vulnerability("cve").dataType).as("cve"),
      affectedCode.as("affected_code"),
      lit(null).cast(OcsfModel.vulnerability("affected_packages").dataType).as("affected_packages"),
      lit(null).cast(OcsfModel.vulnerability("references").dataType).as("references"),
    )
    val vulnerabilities = when(hasCwe || hasLoc, array(vulnerability))

    // _extract_enrichments (:448-475): fingerprints or partialFingerprints
    // (empty dict is falsy).
    val fps = r.getField("fingerprints")
    val pfps = r.getField("partialFingerprints")
    val effFps = when(size(map_keys(fps)) > 0, fps)
      .otherwise(when(size(map_keys(pfps)) > 0, pfps))
    val fpEnrichments = when(
      effFps.isNotNull,
      array(Enrichment.entry("fingerprints", Some("fingerprints"), "SARIF fingerprints", effFps)),
    ).cast(ArrayType(OcsfModel.enrichment))

    val findings = perRun.select(
      lit(OcsfModel.ClassName).as("class_name"),
      lit(OcsfModel.ClassUid).as("class_uid"),
      lit(OcsfModel.CategoryUid).as("category_uid"),
      lit(OcsfModel.CategoryName).as("category_name"),
      lit(OcsfModel.ActivityId).as("activity_id"),
      lit(OcsfModel.ActivityName).as("activity_name"),
      OcsfColumns.typeUid(lit(OcsfModel.ClassUid), lit(OcsfModel.ActivityId)).as("type_uid"),
      now.as("time"),
      OcsfColumns.severityId(level).as("severity_id"),
      OcsfColumns.severityName(level).as("severity"),
      lit(1).as("status_id"),
      lit("New").as("status"),
      struct(
        struct(col("__tool_name").as("name"), col("__tool_version").as("version")).as("product"),
        lit(OcsfModel.OcsfVersion).as("version"),
      ).as("metadata"),
      struct(
        lit(OcsfModel.PlaceholderUid).as("uid"),
        title.as("title"),
        desc.as("desc"),
        col("__created_time").as("created_time"),
        lit(null).cast("string").as("src_url"),
      ).as("finding_info"),
      vulnerabilities.as("vulnerabilities"),
      fpEnrichments.as("enrichments"),
      lit(null).cast(OcsfModel.ocsfFinding("resources").dataType).as("resources"),
      lit(null).cast(OcsfModel.ocsfFinding("remediation").dataType).as("remediation"),
      col("__scan_run_id").as("__scan_run_id"),
    )

    // ---- enrichment chain (converter ctor + per-run auto-injection,
    // :58-82 and :112-127): scan_metadata (auto, only when extractable
    // and not user-supplied) runs before the default UID generator,
    // which runs before user enrichments.
    val hasUserScanMeta = enrichments.exists(_.isInstanceOf[ScanMetadataEnrichment])
    val auto: Seq[Enrichment] =
      if (hasUserScanMeta) Nil else Seq(ScanMetadataEnrichment(col("__scan_run_id")))
    val uid: Seq[Enrichment] =
      if (enableUidGeneration) Seq(FindingUidGenerator(sdlcType)) else Nil

    Enrichment
      .applyAll(findings, auto ++ uid ++ enrichments)
      .drop("__scan_run_id")
  }

  /** S1+S6 end to end: read a SARIF file, convert, return findings. */
  def convertFile(
      spark: SparkSession,
      path: String,
      enrichments: Seq[Enrichment] = Nil,
      nowMillis: Option[Long] = None,
  ): DataFrame =
    convert(readSarif(spark, path), enrichments, nowMillis = nowMillis)

  /** S6: the reference's JSON-array findings file
    * (`scripts/converters/base_converter.py:110-125`) — one `.ocsf.json`
    * file holding a JSON array, the format [[Monitor]] ingests.
    *
    * A JSON array is inherently a single-file framing, so this is a
    * driver-side write guarded by `maxRows` — it exists for per-scan
    * outputs (the reference's unit of work, thousands of findings at
    * most), not for corpus-scale exports, which use the partitioned
    * line-JSON/parquet sinks. */
  def writeFindingsArray(findings: DataFrame, path: String, maxRows: Int = 100000): Unit = {
    // Bounded single-pass collect: at most maxRows+1 JSON strings ever
    // reach the driver, and the oversized case fails before writing —
    // same guarantee as a separate count probe without executing the
    // findings plan twice.
    val rows = findings.toJSON.limit(maxRows + 1).collect()
    require(
      rows.length <= maxRows,
      s"findings exceed maxRows=$maxRows; use a partitioned sink for bulk exports",
    )
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, rows.mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))
  }
}
