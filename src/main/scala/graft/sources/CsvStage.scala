package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV item-file source/sink with the reference's stage-prefix naming
  * (S1/S2 — BatchUpdate.py:762-780 read, :782-816 write).
  *
  * Reading: Spark's CSV reader (a strict superset of the reference's
  * line-split: quoting, escapes, multiline). The reference splits each line
  * on bare `","` — no quoting at all (its README warns stray commas corrupt
  * rows); [[readNaive]] reproduces that dialect exactly via `split` on a
  * text scan, for byte-compatible golden comparisons.
  *
  * Writing: header-on CSV. The reference writes one file; a cluster writes
  * one file per partition — [[writeStage]] keeps partitioned output (the
  * scalable default), callers needing one file coalesce explicitly.
  *
  * All columns stay strings, matching the reference's all-string data model
  * (SURVEY.md §1).
  */
object CsvStage {

  /** Stage prefixes, stripped before prepending the current stage's
    * (BatchUpdate.py:786-791). */
  val stagePrefixes: Seq[String] = Seq("f_", "s_", "suc_", "err_")

  /** `dir/s_f_items.csv` → `dir/<prefix>items.csv`: strip any existing
    * stage prefixes from the basename, then prepend `prefix`. */
  def stagedPath(path: String, prefix: String): String = {
    val slash = path.lastIndexOf('/')
    val (dir, name) = path.splitAt(slash + 1)
    var base = name
    var stripped = true
    while (stripped) {
      stripped = false
      stagePrefixes.foreach { p =>
        if (base.startsWith(p)) { base = base.drop(p.length); stripped = true }
      }
    }
    dir + prefix + base
  }

  /** S1 — header CSV scan, every column string-typed. The header is read
    * on the driver ([[headerSchema]]) and handed to the reader as its
    * schema, so opening a stage file runs no Spark job; the inferring
    * reader is the fallback when no file has a line. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read
      .option("header", "true")
      // the item model is all-string; inference would coerce barcodes/IDs
      .option("inferSchema", "false")
    headerSchema(spark, path).fold(reader)(reader.schema).csv(path)
  }

  /** The all-string schema Spark's reader infers for `path` with
    * `header = true`, built from the same pieces without a job: the first
    * comment-free, non-empty line of the first non-empty data file
    * (codec-aware), tokenized by univocity under the reader's parser
    * settings and made unique by `makeSafeHeader`. `None` when `path` is
    * not a plain file or a flat directory of data files, or when no file
    * has a line. */
  private def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val files: Seq[FileStatus] =
      if (!fs.exists(root)) Nil
      else fs.getFileStatus(root) match {
        case file if file.isFile => Seq(file)
        case _ =>
          val data = fs.listStatus(root).toSeq.filterNot { s =>
            val n = s.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          // a nested layout (partition directories) is the inferring reader's
          if (data.exists(_.isDirectory)) Nil
          else data.filter(_.getLen > 0).sortBy(_.getPath.getName)
      }
    val sqlConf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"),
      sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
    files.iterator
      .flatMap(f => CSVUtils.readHeaderLine(f.getPath, options, hadoopConf))
      .nextOption()
      .map { line =>
        val tokens = new CsvParser(options.asParserSettings).parseLine(line)
        StructType(CSVUtils.makeSafeHeader(tokens, sqlConf.caseSensitiveAnalysis, options)
          .map(StructField(_, StringType)))
      }
  }

  /** S1, bug-compatible dialect: naive split on `","`, no quoting — the
    * reference's `_readFile` (BatchUpdate.py:770-776). Needed to round-trip
    * files containing the reference's literal-`"` November output. */
  def readNaive(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val headerLine = lines.head()
    val header = headerLine.split(",", -1)
    // Drop the first line (the reference indexes data[0] as header) AND
    // any repeated header line: multi-partition outputs from writeStage
    // carry one header per part file. (A data row byte-identical to the
    // header cannot occur in real item files — every schema has distinct
    // mandatory columns like Barcode.)
    val body = lines.rdd.zipWithIndex()
      .filter { case (l, i) => i > 0 && l != headerLine }
      .map(_._1)
    spark.createDataset(body)
      .select(split(col("value"), ",", -1).as("c"))
      .select(header.zipWithIndex.map { case (h, i) =>
        element_at(col("c"), i + 1).as(h)
      }.toSeq: _*)
  }

  /** S2 — write a stage output beside the input with the stage prefix;
    * returns the path the next stage reads. */
  def writeStage(df: DataFrame, inputPath: String, prefix: String): String = {
    val out = stagedPath(inputPath, prefix)
    df.write.mode("overwrite").option("header", "true").csv(out)
    out
  }
}
