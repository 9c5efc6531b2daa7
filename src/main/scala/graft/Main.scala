package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Pipeline
import graft.sources.AlmaConnector

/** CLI entry point mirroring the reference's `main` dispatch
  * (BatchUpdate.py:114-136): `graft.Main <inputCSV> {-f|-s|-u}` — stages
  * always chain in the fixed order format → split → update regardless of
  * flag order, each consuming the previous stage's output file; fewer than
  * two args or no stage flag is a usage error (exit 1).
  *
  * Interactive divergences (SURVEY.md §3, documented): the reference's Y/N
  * confirm before an un-reviewed update (:127-132) becomes the explicit
  * `--yes` flag, and the Alma endpoint — hard-coded key in the reference
  * (:431) — becomes `--base-url`/`--api-key`. Unrecognized tokens are
  * ignored, exactly like the reference's `'-f' in flags` membership tests.
  */
object Main {

  val usage: String =
    "usage: graft.Main inputCSVorTXT {-f|-s|-u} " +
      "[--base-url URL] [--api-key KEY] [--yes]"

  final case class Config(
      path: String,
      flags: Pipeline.StageFlags,
      baseUrl: Option[String] = None,
      apiKey: Option[String] = None,
      confirmed: Boolean = false)

  /** argv → Config; Left(usage) on arity/flag errors (reference :115-117,
    * :134-136). */
  def parse(args: Seq[String]): Either[String, Config] = {
    if (args.length < 2) return Left(usage)
    @annotation.tailrec
    def loop(rest: List[String], cfg: Config): Either[String, Config] =
      rest match {
        case Nil => Right(cfg)
        case "-f" :: t =>
          loop(t, cfg.copy(flags = cfg.flags.copy(format = true)))
        case "-s" :: t =>
          loop(t, cfg.copy(flags = cfg.flags.copy(split = true)))
        case "-u" :: t =>
          loop(t, cfg.copy(flags = cfg.flags.copy(update = true)))
        case "--yes" :: t => loop(t, cfg.copy(confirmed = true))
        case "--base-url" :: v :: t => loop(t, cfg.copy(baseUrl = Some(v)))
        case "--api-key" :: v :: t => loop(t, cfg.copy(apiKey = Some(v)))
        case ("--base-url" | "--api-key") :: Nil => Left(usage)
        case _ :: t => loop(t, cfg) // unknown tokens ignored, like the reference
      }
    loop(args.tail.toList, Config(args.head, Pipeline.StageFlags())) match {
      case Right(c) if !c.flags.format && !c.flags.split && !c.flags.update =>
        Left(usage)
      case other => other
    }
  }

  /** Execute the configured stages; `store` overrides the HTTP transport
    * (tests pass a stub). Left = refusal message, exit-1 path. */
  def run(
      spark: SparkSession,
      cfg: Config,
      store: Option[() => AlmaConnector.ItemStore] = None)
      : Either[String, Pipeline.Result] = {
    val fl = cfg.flags
    if (fl.update && (fl.format || fl.split) && !cfg.confirmed)
      // the reference's "update without reviewing the data?" guard
      // (:127-132); non-interactive, so refusal is the safe default
      Left("Halting processes (pass --yes to update without reviewing the data)")
    else {
      val factory = store.orElse {
        for { b <- cfg.baseUrl; k <- cfg.apiKey } yield { () =>
          new AlmaConnector.HttpItemStore(b, k): AlmaConnector.ItemStore
        }
      }
      if (fl.update && factory.isEmpty)
        Left("update stage needs --base-url and --api-key")
      else Right(Pipeline.run(spark, cfg.path, fl, store = factory))
    }
  }

  def main(args: Array[String]): Unit =
    parse(args.toIndexedSeq) match {
      case Left(msg) =>
        System.err.println(msg)
        sys.exit(1)
      case Right(cfg) =>
        // GraftSession honors spark-submit's --master when present; the
        // local default keeps `java -cp ... graft.Main` working for dev runs
        val spark = GraftSession()
        try run(spark, cfg) match {
          case Left(msg) =>
            System.err.println(msg)
            sys.exit(1)
          case Right(res) =>
            res.formatted.foreach(p => println(s"format  -> $p"))
            res.split.foreach(p => println(s"split   -> $p"))
            res.success.foreach(p => println(s"success -> $p"))
            res.error.foreach(p => println(s"error   -> $p"))
        } finally spark.stop()
    }
}
