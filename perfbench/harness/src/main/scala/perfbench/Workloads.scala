package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's fixed operation lists and the seeded request generator.
  * A run executes its workload's list in an order drawn from the seed. */
object Workloads {

  /** The workloads, with the passes a run makes at least; more follow
    * while it has measured less than `--seconds`. */
  val MinPasses: Map[String, Int] =
    Map("catalog_heavy" -> 1, "catalog_light" -> 2, "qa_service" -> 1)

  /** Catalog entries whose time goes to kernels in `operators/` and
    * `functions/`: the `ordered_sum` fold behind sparse similarity and the
    * co-purchase pair emitter (`pairsOf`). */
  val Heavy: Seq[String] = Seq("rel_copurchase", "ta_sparse_sim")

  /** Short catalog entries where the per-action floor dominates: the
    * cheapest standalone entries of every non-stream family on a 4-core
    * host (entries whose builders fill a large session memo excluded). */
  val Light: Seq[String] = Seq(
    "adv_number_extraction", "adv_scrub",
    "dedup_exact", "dedup_simhash",
    "mm_resize_stats",
    "qa_token_summary", "qa_truncation", "qa_truncation_summary",
    "rel_dataset_split", "rel_scan_project",
    "sim_quantize_stats",
    "ta_k_anonymity", "ta_pii_scrub",
    "text_long_docs", "text_token_count", "text_truncate_stats")

  /** Streaming drains, the only path into `streaming/`: a windowed
    * aggregate and the streaming QA answers. Measured in catalog_light,
    * whose time is machinery too. */
  val Stream: Seq[String] = Seq("stream_qa_answers", "stream_window_agg")

  def catalogList(workload: String): Seq[String] = workload match {
    case "catalog_heavy" => Heavy
    case "catalog_light" => Light ++ Stream
    case other => throw new IllegalArgumentException(s"no catalog list for '$other'")
  }

  def order[A](items: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed).shuffle(items)

  /** The entries a run content-checks: every k-th of the sorted list,
    * k = min(4, n), offset by the seed, so k consecutive seeds cover all. */
  def checked(items: Seq[String], seed: Long): Seq[String] = {
    val k = math.min(4, items.size)
    val offset = Math.floorMod(seed, k.toLong)
    items.sorted.zipWithIndex.collect { case (n, i) if i % k == offset => n }
  }

  // ---- qa_service ----------------------------------------------------

  /** The corpus vocabulary of the `documents` table. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** The service's engine-cache key (format, chunking, threshold,
    * question) plus the per-call pipeline settings. */
  final case class AskConfig(question: String, format: String, chunkSize: Int,
      overlap: Int, threshold: Int, pipeline: String, strategy: String,
      contextWindow: Int, buffer: Int)

  /** One upload + question. `text` is what the parser must produce. */
  final case class AskRequest(id: Long, fileName: String, content: Array[Byte],
      text: String, config: AskConfig, hit: Boolean, tokens: Int)

  val Formats: Seq[String] = Seq("json", "plain_text", "hybrid")
  val Strategies: Seq[String] = Seq("start", "end", "smart")

  private def pick[A](r: scala.util.Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  def question(r: scala.util.Random): String =
    "what " + Seq.fill(2 + r.nextInt(3))(pick(r, Vocab)).mkString(" ")

  /** Markdown lines of `tokens` vocabulary words, twelve to a line, with
    * a heading every ten lines. */
  def document(r: scala.util.Random, tokens: Int): Seq[String] =
    (0 until tokens).grouped(12).zipWithIndex.map { case (g, i) =>
      val words = g.map(_ => pick(r, Vocab)).mkString(" ")
      if (i % 10 == 0) s"## section ${i / 10}\n$words" else words
    }.toSeq

  /** A seeded closed-loop request list. The mix is a coverage design, not
    * measured traffic: the repository records no request trace, so it is a
    * balanced factorial of pipeline (mapreduce, truncation) x upload format
    * (markdown, PDF parsed by the stub PDF parser) x cache role (a hit
    * repeats an earlier (config, question) key of the list, so the
    * service's engine cache hits; a miss asks a new question), n/8 requests
    * to a cell. Document lengths are n/2 log-spaced points from 200 to
    * 30000 tokens, the span of "hundreds to tens of thousands"; each length
    * is asked once as a hit and once as a miss with the other pipeline and
    * format, so hits and misses, the two pipelines and the two formats each
    * see every length once. Only the order, the words and the questions
    * come from the seed. */
  def requests(seed: Long, n: Int): Seq[AskRequest] = {
    require(n > 0 && n % 8 == 0, s"request count $n is not a positive multiple of 8")
    val r = new scala.util.Random(seed)
    val levels = n / 2
    val design = (0 until levels).flatMap { j =>
      val tokens = math.round(200 * math.pow(30000.0 / 200, (j + 0.5) / levels)).toInt
      val truncation = j % 2 == 1
      val pdf = (j / 2) % 2 == 1
      // tokens, truncation, pdf, hit
      Seq((tokens, truncation, pdf, true), (tokens, !truncation, !pdf, false))
    }
    // a miss first, so every hit has an earlier key to repeat
    val (firstMiss, rest) = r.shuffle(design).partition(d => !d._4) match {
      case (m, h) => (m.head, r.shuffle(m.tail ++ h))
    }
    val used = scala.collection.mutable.ArrayBuffer.empty[AskConfig]
    (firstMiss +: rest).zipWithIndex.map { case ((tokens, truncation, pdf, hit), i) =>
      val base =
        if (hit) pick(r, used.toSeq)
        else {
          val c = AskConfig(question(r), Formats(used.size % Formats.size), 128, 16,
            1 + r.nextInt(3), "mapreduce", pick(r, Strategies), 4096, 500)
          used += c
          c
        }
      val cfg = base.copy(pipeline = if (truncation) "truncation" else "mapreduce")
      val lines = document(r, tokens)
      if (pdf) {
        val runs = ("%PDF-1.4" +: lines.flatMap(_.split('\n'))) :+ "%%EOF"
        AskRequest(i, s"upload_$i.pdf", runs.mkString("\n").getBytes(UTF_8),
          runs.filter(_.length >= 4).map(_ + "\n").mkString, cfg, hit, tokens)
      } else {
        val text = lines.mkString("\n")
        AskRequest(i, s"upload_$i.md", text.getBytes(UTF_8), text, cfg, hit, tokens)
      }
    }
  }
}
