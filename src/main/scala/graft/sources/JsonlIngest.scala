package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Audited JSONL ingestion — the raw-crawl entry face: read newline-
  * delimited JSON against an EXPLICIT schema (never inferred: schema
  * inference is a full extra pass over 100 TB and silently unions
  * drifting shapes), splitting the input into a clean typed frame and a
  * corrupt-line audit instead of the default silent-null swallow.
  *
  * Built on Spark's PERMISSIVE mode + `columnNameOfCorruptRecord`: a line
  * that fails to parse (or fails the schema's types under the parser)
  * lands with the raw line preserved in the corrupt column and nulls
  * elsewhere. `readAudited` surfaces that contract as two frames:
  *  - `clean`: rows whose corrupt column is null, corrupt column dropped;
  *  - `corrupt`: (raw_line) rows — the re-queue/alert payload.
  *
  * Scale notes: both frames derive from ONE scan definition (Spark prunes
  * the corrupt column from the clean frame's scan); counting the corrupt
  * side is a column-pruned pass. multiLine stays false — JSONL is the
  * only splittable JSON layout; a multiLine file gates parallelism at
  * one-task-per-file.
  */
object JsonlIngest {

  val corruptCol = "_corrupt_record"

  /** The (clean, corrupt) pair for `path` under `schema`. */
  def readAudited(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema must not already carry $corruptCol")
    val withAudit = StructType(
      schema.fields :+ StructField(corruptCol, StringType, nullable = true))
    // Spark refuses corrupt-column-only queries over raw JSON scans
    // (SPARK-21610: the pruned scan would re-parse and see no corruption);
    // the documented contract is to materialize the PARSED batch first. The
    // lazy checkpoint is cut from the full-schema parse, so both outputs
    // read rows that went through the corrupt-record column. An ingest drop
    // is bounded (one delivery, not the corpus), and any two-output
    // consumer of this split pays one materialization anyway.
    val raw = spark.read
      .schema(withAudit)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
      .localCheckpoint(false)
    val clean = raw.filter(col(corruptCol).isNull)
      .drop(corruptCol)
    val corrupt = raw.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (clean, corrupt)
  }

  /** One-row ingest report: (n_clean, n_corrupt, corrupt_ppm) — the
    * freshness/quality gate a scheduled ingest checks before promoting a
    * drop into the corpus.
    */
  def ingestReport(spark: SparkSession, path: String, schema: StructType)
      : DataFrame = {
    val (clean, corrupt) = readAudited(spark, path, schema)
    val n = clean.count()
    val c = corrupt.count()
    import spark.implicits._
    Seq((n, c, if (n + c == 0) 0L else c * 1000000L / (n + c)))
      .toDF("n_clean", "n_corrupt", "corrupt_ppm")
  }
}
