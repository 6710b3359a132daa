package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BinaryDocs, Prompts, QaSources, ResultsSink}

/** §3.1: the CLI batch entry (main_async.py) — parse config, resolve the
  * prompt set, compose the pipeline, run it over a corpus, write the
  * results envelope, print the summary. Every step is the Spark-first
  * equivalent: config -> one logical plan, loaders -> distributed scans,
  * the async fan-out -> the engine's declarative dataflow, the Python
  * stats loops -> aggregations, the results JSON -> ResultsSink.
  *
  * Usage:
  *   runMain graft.RunPipeline --path <dir> [--dataset markdown|binary|
  *   parquet] [--approach mapreduce|truncation] [--format hybrid|json|
  *   plain] [--prompt-set hybrid] [--question "..."] [--limit N]
  *   [--out runs]
  */
object RunPipeline {

  final case class Config(
      dataset: String = "markdown", path: String = "",
      approach: String = "mapreduce", format: String = "hybrid",
      promptSet: String = "hybrid",
      question: String = "spark query join data",
      limit: Option[Int] = None, outDir: String = "runs")

  private val usage =
    """usage: runMain graft.RunPipeline --path <dir>
      |  [--dataset markdown|binary|parquet] [--approach mapreduce|truncation]
      |  [--format hybrid|json|plain] [--prompt-set <name>]
      |  [--question "..."] [--limit N] [--out <dir>]""".stripMargin

  def parse(args: Array[String]): Config = {
    if (args.contains("--help") || args.contains("-h")) {
      System.err.println(usage)
      sys.exit(0)
    }
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--dataset", v)) => c.copy(dataset = v)
      case (c, Array("--path", v)) => c.copy(path = v)
      case (c, Array("--approach", v)) => c.copy(approach = v)
      case (c, Array("--format", v)) => c.copy(format = v)
      case (c, Array("--prompt-set", v)) => c.copy(promptSet = v)
      case (c, Array("--question", v)) => c.copy(question = v)
      case (c, Array("--limit", v)) => c.copy(limit = Some(v.toInt))
      case (c, Array("--out", v)) => c.copy(outDir = v)
      case (_, other) => throw new IllegalArgumentException(
        s"unknown argument '${other.mkString(" ")}'\n$usage")
    }
  }

  /** Run the configured pipeline; returns the run directory (the
    * reference's results path). */
  def run(spark: SparkSession, cfg: Config, timestampIso: String): String = {
    require(cfg.path.nonEmpty, "--path is required")
    val prompts = Prompts.resolve(Some(cfg.promptSet)) // fail-fast dispatch
    val docs: DataFrame = cfg.dataset match {
      case "markdown" => QaSources.markdownCorpus(spark, cfg.path)
        .select(col("doc_id"), col("text"))
      case "binary" => BinaryDocs.parsedCorpus(spark, cfg.path)
        .select(col("doc_id"), col("text"))
      case "parquet" => graft.core.Tables.load(spark, cfg.path, "documents")
        .select(col("doc_id"), col("text"))
      case other => throw new IllegalArgumentException(
        s"unknown dataset '$other' (markdown | binary | parquet)")
    }
    val limited = cfg.limit.fold(docs)(docs.limit) // P3 sample limit
    val engine = Engine(format = cfg.format, question = cfg.question)
    val judged = cfg.approach match {
      case "truncation" => engine.truncationJudged(limited)
      case "mapreduce" => engine.judged(limited)
      case other => throw new IllegalArgumentException(
        s"unknown approach '$other' (mapreduce | truncation)")
    }
    val runDir = ResultsSink.write(judged, cfg.outDir, Map(
      "dataset" -> cfg.dataset, "approach" -> cfg.approach,
      "format" -> cfg.format, "prompt_set" -> cfg.promptSet,
      "question" -> cfg.question,
      "prompts_json" -> Prompts.toJson(prompts)), timestampIso)
    // the reference's end-of-run summary (base_pipeline.py:507-517):
    // judgment distribution as one aggregation
    val dist = judged.groupBy(col("judgment")).agg(count(lit(1)).as("n"))
      .orderBy(col("judgment")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    System.err.println(s"[run] $runDir  judgments: $dist")
    runDir
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = graft.core.GraftSession()
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .format(java.time.LocalDateTime.now())
    run(spark, cfg, ts)
    spark.stop()
  }
}
