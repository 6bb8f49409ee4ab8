package graft.ocsf

import org.apache.spark.sql.types._

/** Explicit schemas for the OCSF pipeline — no inference on production
  * paths (SURVEY.md §1.4).
  *
  * The SARIF input schema follows the shapes the reference consumes
  * (`scripts/converters/sarif_to_ocsf.py:94-151`, fixture shape in
  * FIXTURES.md §1); the OCSF finding schema is the converter's output
  * (`sarif_to_ocsf.py:185-211`, constants
  * `scripts/converters/base_converter.py:41-60`).
  *
  * Design note: the reference's `enrichments[].data` is heterogeneous
  * JSON; every enrichment the platform actually writes (fingerprints,
  * uid_generation, scan_metadata) is a string→string object, so it is
  * typed here as `MapType(String, String)` — keeping the whole document
  * strongly typed while preserving schema-on-read for the `data` keys.
  */
object OcsfModel {

  // ---- SARIF input -------------------------------------------------------

  val sarifRegion: StructType = StructType(
    Seq(
      StructField("startLine", IntegerType),
      StructField("endLine", IntegerType),
      StructField("snippet", StructType(Seq(StructField("text", StringType)))),
    )
  )

  val sarifLocation: StructType = StructType(
    Seq(
      StructField(
        "physicalLocation",
        StructType(
          Seq(
            StructField(
              "artifactLocation",
              StructType(Seq(StructField("uri", StringType))),
            ),
            StructField("region", sarifRegion),
          )
        ),
      )
    )
  )

  val sarifRule: StructType = StructType(
    Seq(
      StructField("id", StringType),
      StructField("shortDescription", StructType(Seq(StructField("text", StringType)))),
      StructField("properties", StructType(Seq(StructField("cwe", ArrayType(StringType))))),
    )
  )

  val sarifResult: StructType = StructType(
    Seq(
      StructField("ruleId", StringType),
      StructField("level", StringType),
      StructField("message", StructType(Seq(StructField("text", StringType)))),
      StructField("properties", StructType(Seq(StructField("cwe", ArrayType(StringType))))),
      StructField("locations", ArrayType(sarifLocation)),
      StructField("fingerprints", MapType(StringType, StringType)),
      StructField("partialFingerprints", MapType(StringType, StringType)),
    )
  )

  val sarifRun: StructType = StructType(
    Seq(
      StructField(
        "tool",
        StructType(
          Seq(
            StructField(
              "driver",
              StructType(
                Seq(
                  StructField("name", StringType),
                  StructField("semanticVersion", StringType),
                  StructField("version", StringType),
                  StructField("rules", ArrayType(sarifRule)),
                )
              ),
            )
          )
        ),
      ),
      StructField(
        "invocations",
        ArrayType(
          StructType(
            Seq(StructField("startTimeUtc", StringType), StructField("endTimeUtc", StringType))
          )
        ),
      ),
      StructField(
        "automationDetails",
        StructType(Seq(StructField("id", StringType), StructField("guid", StringType))),
      ),
      StructField("results", ArrayType(sarifResult)),
    )
  )

  val sarifSchema: StructType = StructType(
    Seq(StructField("version", StringType), StructField("runs", ArrayType(sarifRun)))
  )

  // ---- OCSF finding ------------------------------------------------------

  /** `enrichments[]` element (see class doc for the `data` typing). */
  val enrichment: StructType = StructType(
    Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("value", StringType),
      StructField("data", MapType(StringType, StringType)),
    )
  )

  val ocsfFile: StructType = StructType(
    Seq(
      StructField("name", StringType),
      StructField("path", StringType),
      StructField("type_id", IntegerType),
    )
  )

  val affectedCode: StructType = StructType(
    Seq(
      StructField("file", ocsfFile),
      StructField("start_line", IntegerType),
      StructField("end_line", IntegerType),
    )
  )

  val vulnerability: StructType = StructType(
    Seq(
      StructField("cwe", StructType(Seq(StructField("uid", StringType)))),
      StructField(
        "cve",
        StructType(
          Seq(
            StructField("uid", StringType),
            StructField(
              "related_cwes",
              ArrayType(StructType(Seq(StructField("uid", StringType)))),
            ),
          )
        ),
      ),
      StructField("affected_code", ArrayType(affectedCode)),
      StructField(
        "affected_packages",
        ArrayType(StructType(Seq(StructField("name", StringType)))),
      ),
      StructField("references", ArrayType(StringType)),
    )
  )

  val findingInfo: StructType = StructType(
    Seq(
      StructField("uid", StringType),
      StructField("title", StringType),
      StructField("desc", StringType),
      StructField("created_time", LongType),
      StructField("src_url", StringType),
    )
  )

  val ocsfFinding: StructType = StructType(
    Seq(
      StructField("class_name", StringType),
      StructField("class_uid", IntegerType),
      StructField("category_uid", IntegerType),
      StructField("category_name", StringType),
      StructField("activity_id", IntegerType),
      StructField("activity_name", StringType),
      StructField("type_uid", IntegerType),
      StructField("time", LongType),
      StructField("severity_id", IntegerType),
      StructField("severity", StringType),
      StructField("status_id", IntegerType),
      StructField("status", StringType),
      StructField(
        "metadata",
        StructType(
          Seq(
            StructField(
              "product",
              StructType(Seq(StructField("name", StringType), StructField("version", StringType))),
            ),
            StructField("version", StringType),
          )
        ),
      ),
      StructField("finding_info", findingInfo),
      StructField("vulnerabilities", ArrayType(vulnerability)),
      StructField("enrichments", ArrayType(enrichment)),
      StructField("resources", ArrayType(MapType(StringType, StringType))),
      StructField("remediation", StructType(Seq(StructField("desc", StringType)))),
    )
  )

  // ---- Constants (base_converter.py:41-60) -------------------------------

  val ClassName        = "Application Security Posture Finding"
  val ClassUid         = 2007
  val CategoryUid      = 2
  val CategoryName     = "Findings"
  val ActivityId       = 2
  val ActivityName     = "Update"
  val OcsfVersion      = "1.5.0"
  val Unknown          = "UNKNOWN"
  val FileTypeRegular  = 1
  val PlaceholderUid   = "PLACEHOLDER_UID"
}
