package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, QaAnswer, QaService, SparkEntry}
import graft.sources.{BinaryDocs, DocumentParser}

/** The benchmark's JVM side. `perfbench/run.py` builds it, prepares the
  * hermetic environment and calls it; it writes one detail JSON file.
  *
  *   run     one workload: set-up, timed passes, output checks, and with
  *           `--trace 1` an untraced and a traced pass plus layer rows
  *   record  computes the committed expected row counts and fingerprints
  *   confirm compares result dumps of `graft.Verify` (checked against the
  *           DuckDB oracle) with the committed expectations
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parse(argv: Array[String]): Args = Args(argv.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }.toMap)

  /** The session `graft.Bench` builds, with its defaults. */
  def session(cpus: Int): SparkSession = {
    val spark = graft.core.LocalDirs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh session on the shared context: session-keyed memos start
    * empty, so every pass pays what a first pass pays. */
  def freshSession(base: SparkSession): SparkSession = {
    val s = base.newSession()
    graft.core.Metrics.register(s)
    sessions += s
    s
  }

  /** Every session handed out, for the after-run stream leak check. */
  val sessions = scala.collection.mutable.ArrayBuffer.empty[SparkSession]

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    a.get("mode").getOrElse("run") match {
      case "run" => Json.write(a("out"), new Runner(a, t0).run())
      case "record" => record(a)
      case "confirm" => sys.exit(confirm(a))
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
  }

  def entry(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"catalog entry '$name' is not in SparkEntry.queries"))

  def catalogEntries: Seq[String] =
    (Workloads.Heavy ++ Workloads.Light ++ Workloads.Stream).sorted

  /** Expected row counts at the bench frame and content fingerprints at
    * both frames, for every catalog entry the benchmark runs. */
  def record(a: Args): Unit = {
    val spark = session(a("cpus").toInt)
    val names = catalogEntries
    val rows = names.map { n =>
      val s = freshSession(spark)
      n -> entry(n)(s, a("bench-dir")).count()
    }
    def fps(dir: String) = TreeMap.from(names.map { n =>
      val (count, sha) = Fingerprint.of(entry(n)(freshSession(spark), dir))
      n -> Map("rows" -> count, "sha256" -> sha)
    })
    Json.write(a("out"), Map("rows" -> TreeMap.from(rows),
      "fingerprints" -> fps(a("warm-dir")), "bench_fingerprints" -> fps(a("bench-dir"))))
    spark.stop()
  }

  /** Reads `graft.Verify` dumps (one parquet directory per entry) of the
    * warm and bench frames and compares them with the expectations.
    * Exit code 0 only if every entry matches. */
  def confirm(a: Args): Int = {
    val spark = session(a("cpus").toInt)
    val exp = Expected.load(a("expected"))
    var bad = 0
    catalogEntries.foreach { n =>
      val warm = Fingerprint.of(spark.read.parquet(s"${a("warm-dump")}/$n"))
      val bench = Fingerprint.of(spark.read.parquet(s"${a("bench-dump")}/$n"))
      val ok = exp.fingerprints.get(n).contains(warm) &&
        exp.benchFingerprints.get(n).contains(bench) && exp.rows.get(n).contains(bench._1)
      if (!ok) bad += 1
      println(s"${if (ok) "MATCH" else "DIFF "} $n warm=${warm._1}/${warm._2.take(12)} " +
        s"bench=${bench._1}/${bench._2.take(12)}")
    }
    println(s"== ${catalogEntries.size - bad} match, $bad differ")
    spark.stop()
    if (bad == 0) 0 else 1
  }
}

/** Committed expectations: row counts at the bench frame, content
  * fingerprints at the warm frame and at the bench frame. */
final case class Expected(rows: Map[String, Long], fingerprints: Map[String, (Long, String)],
    benchFingerprints: Map[String, (Long, String)])

object Expected {
  def load(path: String): Expected = {
    val j = Json.read(path)
    def num(v: Any): Long = v.asInstanceOf[Number].longValue
    def fps(key: String) = j(key).asInstanceOf[Map[String, Map[String, Any]]].map {
      case (k, m) => k -> ((num(m("rows")), m("sha256").toString))
    }
    Expected(
      j("rows").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> num(v) },
      fps("fingerprints"), fps("bench_fingerprints"))
  }
}

/** One timed operation. Times are epoch microseconds. */
final case class Op(name: String, id: String, pass: Int, start: Long, split: Long,
    end: Long, ok: Boolean, detail: String, tags: Map[String, String] = Map.empty) {
  def seconds: Double = (end - start) / 1e6
}

final class Runner(a: Main.Args, t0: Long) {
  import Main._

  private val workload = a("workload")
  require(Workloads.MinPasses.contains(workload), s"unknown workload '$workload'")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val benchDir = a("bench-dir")
  private val warmDir = a("warm-dir")
  private val cpus = a("cpus").toInt
  private val expected = Expected.load(a("expected"))
  private val isQa = workload == "qa_service"

  // epoch microseconds on the monotonic clock
  private val epochOffsetUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private def nowUs: Long = epochOffsetUs + System.nanoTime() / 1000

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var heapPeak = 0L
  private def sampleHeap(forceGc: Boolean): Unit = oldGen.foreach { p =>
    if (forceGc) { System.gc(); heapPeak = math.max(heapPeak, p.getUsage.getUsed) }
    Option(p.getCollectionUsage).foreach(u => heapPeak = math.max(heapPeak, u.getUsed))
  }

  private def loadavg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private lazy val spark = session(cpus)
  private def sc = spark.sparkContext

  private def mark(op: String, phase: String): Unit = {
    sc.setLocalProperty(Trace.OpKey, op)
    sc.setLocalProperty(Trace.PhaseKey, phase)
  }

  // ---- catalog workloads ----------------------------------------------

  private lazy val names = Workloads.catalogList(workload)
  private lazy val fns = names.map(n => n -> entry(n)).toMap

  /** graft.Bench's session build and JVM/codegen warm-up. */
  private def jvmWarm(): Unit = {
    milestone("main")
    spark.sparkContext
    milestone("session")
    spark.range(1000000).selectExpr("sum(id)").collect()
    milestone("first_query")
  }

  private def warmCatalog(): Map[String, String] = {
    // as graft.Bench: parquet reader warm-up, then every entry once on the
    // warm frame
    jvmWarm()
    graft.core.Tables.load(spark, warmDir, "lineitem").count()
    milestone("parquet_warm")
    val s = freshSession(spark)
    names.sorted.flatMap { n =>
      val t = System.nanoTime()
      try { fns(n)(s, warmDir).count(); None }
      catch { case e: Throwable => Some(n -> s"warm: ${e.getMessage}") }
      finally warmTimes(n) = (System.nanoTime() - t) / 1e9
    }.toMap
  }

  private val warmTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Seconds from main to each set-up milestone. */
  private val setupMarks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def milestone(what: String): Unit = setupMarks(what) = (System.nanoTime() - t0) / 1e9

  private def catalogPass(s: SparkSession, pass: Int, trace: Option[Trace]): Seq[Op] =
    Workloads.order(names, seed).zipWithIndex.map { case (n, i) =>
      val id = s"p$pass.$i.$n"
      trace.foreach(_.enter(id))
      mark(id, "build")
      val start = nowUs
      var split = start
      val res = try {
        val df = fns(n)(s, benchDir)
        split = nowUs
        mark(id, "action")
        Right(df.count())
      } catch { case e: Throwable => Left(e) }
      val end = nowUs
      if (split == start) split = end
      mark(null, null)
      trace.foreach(_.enter(null))
      sampleHeap(forceGc = false)
      val want = expected.rows.get(n)
      res match {
        case Right(rows) if want.contains(rows) =>
          Op(n, id, pass, start, split, end, true, s"$rows rows")
        case Right(rows) => Op(n, id, pass, start, split, end, false,
          s"count $rows, expected ${want.getOrElse("none")}")
        case Left(e) => Op(n, id, pass, start, split, end, false, s"error: ${e.getMessage}")
      }
    }

  /** Full-content check on the warm and the bench frame, outside any
    * timing window, of the entries this seed checks. Returns the entries
    * whose fingerprint differs on either frame. */
  private def fingerprintCheck(): Map[String, String] = {
    val frames = Seq(
      ("warm", warmDir, expected.fingerprints, freshSession(spark)),
      ("bench", benchDir, expected.benchFingerprints, freshSession(spark)))
    Workloads.checked(names, seed).flatMap { n =>
      frames.iterator.flatMap { case (frame, dir, want, s) =>
        val got = try Right(Fingerprint.of(fns(n)(s, dir)))
          catch { case e: Throwable => Left(e.getMessage) }
        (got, want.get(n)) match {
          case (Right(g), Some(w)) if g == w => None
          case (Right((c, sha)), w) => Some(n -> (s"$frame fingerprint $c/${sha.take(12)}, " +
            s"expected ${w.map { case (wc, wsha) => s"$wc/${wsha.take(12)}" }.getOrElse("none")}"))
          case (Left(msg), _) => Some(n -> s"$frame fingerprint: $msg")
        }
      }.nextOption()
    }.toMap
  }

  // ---- qa_service -------------------------------------------------------

  private val QaPerPass = 16

  private final class TimedParser(p: DocumentParser) extends DocumentParser {
    val method: String = p.method
    var lastText: Option[String] = None
    var lastSpan: (Long, Long) = (0L, 0L)
    def parse(path: String, content: Array[Byte]): Option[String] = {
      val s = nowUs
      lastText = p.parse(path, content)
      lastSpan = (s, nowUs)
      lastText
    }
  }

  private def ask(svc: QaService, r: Workloads.AskRequest,
      parsers: Map[String, DocumentParser]): QaAnswer = {
    val c = r.config
    svc.ask(r.fileName, r.content, c.question, format = c.format, chunkSize = c.chunkSize,
      overlap = c.overlap, threshold = c.threshold, pipelineType = c.pipeline,
      strategy = c.strategy, contextWindow = c.contextWindow, buffer = c.buffer,
      parsers = parsers)
  }

  private def warmQa(): Unit = {
    jvmWarm()
    // a seed-independent request list of the timed shape, half as long
    val svc = new QaService(freshSession(spark))
    try Workloads.requests(-1L, QaPerPass / 2)
      .foreach(r => ask(svc, r, BinaryDocs.defaultParsers))
    finally svc.close()
  }

  private def qaPass(s: SparkSession, pass: Int, trace: Option[Trace],
      answers: scala.collection.mutable.Map[(Int, Long), QaAnswer]): Seq[Op] = {
    val svc = new QaService(s)
    val timed = BinaryDocs.defaultParsers.map { case (k, p) => k -> new TimedParser(p) }
    val reqs = Workloads.requests(seed * 1000 + pass, QaPerPass)
    try reqs.map { r =>
      val id = s"p$pass.${r.id}"
      trace.foreach(_.enter(id))
      mark(id, "ask")
      timed.values.foreach(_.lastText = None)
      val start = nowUs
      val res = try Right(ask(svc, r, timed)) catch { case e: Throwable => Left(e) }
      val end = nowUs
      mark(null, null)
      trace.foreach(_.enter(null))
      sampleHeap(forceGc = false)
      val parser = timed(BinaryDocs.methodForPath(r.fileName))
      val tags = Map(
        "hit" -> r.hit.toString, "pipeline" -> r.config.pipeline,
        "format" -> r.config.format, "tokens" -> r.tokens.toString,
        "parse_start" -> parser.lastSpan._1.toString, "parse_end" -> parser.lastSpan._2.toString)
      res match {
        case Right(ans) if parser.lastText.contains(r.text) =>
          answers((pass, r.id)) = ans
          Op("ask", id, pass, start, start, end, true, "", tags)
        case Right(_) =>
          Op("ask", id, pass, start, start, end, false, "parser output differs", tags)
        case Left(e) =>
          Op("ask", id, pass, start, start, end, false, s"error: ${e.getMessage}", tags)
      }
    } finally svc.close()
  }

  /** Every answer against the batch pipeline run over the same documents:
    * one `Engine` per (config, question, pipeline settings), all of its
    * documents in one DataFrame. Returns the op ids that differ. */
  private def qaCheck(passes: Seq[Int],
      answers: scala.collection.Map[(Int, Long), QaAnswer]): Map[String, String] = {
    val s = freshSession(spark)
    import s.implicits._
    passes.flatMap { pass =>
      val reqs = Workloads.requests(seed * 1000 + pass, QaPerPass)
        .filter(r => answers.contains((pass, r.id)))
      reqs.groupBy(_.config).toSeq.flatMap { case (c, group) =>
        val engine = Engine(question = c.question, format = c.format,
          chunkSize = c.chunkSize, overlap = c.overlap, threshold = Some(c.threshold))
        val docs = group.map(r => (r.id, r.text)).toDF("doc_id", "text")
        val out = (if (c.pipeline == "truncation")
            engine.truncationJudged(docs, c.contextWindow, c.buffer, c.strategy)
          else engine.judged(docs)).collect()
        val byId = out.map(row => row.getAs[Long]("doc_id") -> row).toMap
        group.flatMap { r =>
          val got = answers((pass, r.id))
          val want = byId.get(r.id).map { row =>
            def optLong(n: String) =
              if (row.schema.fieldNames.contains(n)) row.getAs[Long](n) else 1L
            val score = row.getAs[Any](
              if (row.schema.fieldNames.contains("best_score")) "best_score" else "score") match {
              case i: Int => i.toDouble; case l: Long => l.toDouble; case d: Double => d
            }
            (row.getAs[String]("llm_answer"), score, row.getAs[String]("judgment"),
              optLong("chunks_before"), optLong("chunks_after"))
          }
          val have = (got.answer, got.score, got.judgment, got.chunksBefore, got.chunksAfter)
          if (want.contains(have)) None
          else Some(s"p$pass.${r.id}" -> s"answer $have, batch ${want.getOrElse("missing")}")
        }
      }
    }.toMap
  }

  // ---- the run --------------------------------------------------------

  def run(): Map[String, Any] = {
    val loadStart = loadavg
    val warmFailures = if (isQa) { warmQa(); Map.empty[String, String] } else warmCatalog()
    val setupS = (System.nanoTime() - t0) / 1e9
    val qaAnswers = scala.collection.mutable.Map.empty[(Int, Long), QaAnswer]
    def pass(i: Int, trace: Option[Trace]): Seq[Op] = {
      val s = freshSession(spark)
      trace.foreach(_.attach(s))
      val ops = if (isQa) qaPass(s, i, trace, qaAnswers) else catalogPass(s, i, trace)
      sampleHeap(forceGc = true)
      ops
    }
    // untraced passes until the run has measured --seconds; a traced run
    // instead makes one untraced pass, the traced pass, and the untraced
    // pass the tracing overhead is measured against
    val passes = scala.collection.mutable.ArrayBuffer(pass(0, None))
    while (!traced && (passes.size < Workloads.MinPasses(workload) ||
        passes.map(p => p.map(_.seconds).sum).sum < seconds))
      passes += pass(passes.size, None)
    val tracedPass = if (!traced) None else {
      val trace = new Trace(sc)
      val compiles0 = trace.codegenCompiles
      val ops = pass(passes.size, Some(trace))
      val compiles = trace.codegenCompiles - compiles0
      trace.detach()
      passes += pass(passes.size + 1, None)
      Some((ops, trace, compiles))
    }
    val allPasses = (passes.toSeq ++ tracedPass.map(_._1)).sortBy(_.head.pass)

    // output checks, outside every timing window
    val checkStart = System.nanoTime()
    val checkFailures =
      if (isQa) qaCheck(allPasses.map(_.head.pass), qaAnswers)
      else fingerprintCheck()
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val ops = allPasses.flatten.map { op =>
      if (op.ok && checkFailures.contains(op.id)) op.copy(ok = false, detail = checkFailures(op.id))
      else if (op.ok && (checkFailures.contains(op.name) || warmFailures.contains(op.name)))
        op.copy(ok = false, detail = checkFailures.getOrElse(op.name, warmFailures(op.name)))
      else op
    }
    val streamsLeft = (spark +: sessions.toSeq).flatMap(_.streams.active)
      .map(q => Option(q.name).getOrElse(q.id.toString))
    val measured = ops.filter(op => !tracedPass.exists(_._1.head.pass == op.pass))
    val times = measured.map(_.seconds)
    val tail = Stats.tail(times)
    val passWalls = passes.toSeq.map(_.map(_.seconds).sum)
    val failed = ops.count(!_.ok)
    val conf = TreeMap.from(spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(passWalls),
        // each catalog entry's mean over the passes, then the median entry
        "op_p50_s" -> Stats.median(measured.groupBy(o => if (isQa) o.id else o.name)
          .values.map(ops => ops.map(_.seconds).sum / ops.size).toSeq),
        "op_tail_s" -> tail.map(_._2).getOrElse(times.max),
        "heap_peak_mb" -> heapPeak / Trace.MB),
      "op_tail" -> Map("percentile" -> tail.map(_._1).getOrElse(100.0), "n" -> times.size,
        "rule" -> (if (tail.isDefined) "highest percentile with >= 10 samples beyond"
          else "maximum: fewer than 20 samples")),
      "fail_ratio" -> failed.toDouble / ops.size,
      "pass_walls_s" -> passWalls,
      "check_s" -> checkS,
      "warm_s" -> warmTimes,
      "setup_marks_s" -> setupMarks,
      "failures" -> ops.filter(!_.ok).map(o => Map("op" -> o.id, "why" -> o.detail)),
      "warm_failures" -> warmFailures,
      "streams_active_after" -> streamsLeft,
      "host" -> Map(
        "cpus" -> cpus, "default_parallelism" -> sc.defaultParallelism,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / Trace.MB,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg,
        "spark_version" -> spark.version,
        "spark_local_dir" -> sc.getConf.getOption("spark.local.dir")
          .getOrElse(s"(spark default: ${System.getProperty("java.io.tmpdir")})"),
        "spark_sql_conf" -> conf),
      "ops" -> ops.map(o => Map("op" -> o.id, "name" -> o.name, "pass" -> o.pass,
        "s" -> o.seconds, "build_s" -> (o.split - o.start) / 1e6,
        "action_s" -> (o.end - o.split) / 1e6, "ok" -> o.ok, "detail" -> o.detail) ++ o.tags))
    spark.stop()
    tracedPass match {
      case None => result
      case Some((tops, trace, compiles)) =>
        // the overhead base is the untraced pass after the traced one: the
        // first pass still compiles plans the warm frame did not cover
        val untracedWall = passWalls.last
        result ++ Layers.report(workload, tops, trace, compiles, cpus, untracedWall,
          heapPeak / Trace.MB, a.get("spans-out"))
    }
  }
}
