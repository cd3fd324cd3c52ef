package graftbench

import java.lang.management.ManagementFactory
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}

/** Runs one workload in-process against graft's public entry points:
  * set-up (timed from JVM start), one unmeasured warm-up round, then
  * closed-loop rounds for the requested seconds. Every round's outputs
  * are written to `rounds.jsonl` for the checker; timings, and with
  * `--trace 1` the per-layer counters and spans, go to `result.json` and
  * `spans.json`.
  *
  *   BenchMain --workload etl --out DIR --seconds S --trace 0|1 --cores N
  *             --drop DIR --start D --end D
  *             --int-col C --dec-col C --ts-col C
  *   BenchMain --workload corpus ... --docs F --corpus F --queries F
  *             --dim N --k K
  */
object BenchMain {

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  final case class Batch(id: String, startMs: Double, endMs: Double)
  final case class Step(name: String, layer: String, startMs: Double, endMs: Double)
  final case class Round(index: Int, measured: Boolean, startMs: Double, endMs: Double,
                         batches: Seq[Batch], steps: Seq[Step],
                         attempted: Int, failed: Int, gcMs: Long,
                         dump: Map[String, Any]) {
    def wallS: Double = (endMs - startMs) / 1000.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def newSession(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---------------------------------------------------------------- ETL

  private val DayLine = """^(\d{4}-\d{2}-\d{2}): (.*)$""".r
  private val Summary = """Successfully processed (\d+) out of (\d+) days""".r

  def etlRound(spark: SparkSession, a: Map[String, String], r: Int,
               measured: Boolean): Round = {
    val (start, end) = (a("start"), a("end"))
    val url = s"jdbc:derby:memory:wh$r"
    val env = Map("GRAFT_DROP_DIR" -> a("drop"), "GRAFT_JDBC_URL" -> s"$url;create=true",
      "GRAFT_DB_USER" -> "app", "GRAFT_DB_PASSWORD" -> "app")
    val lines = mutable.ArrayBuffer.empty[(Double, String)]
    val gc0 = gcMs()
    val t0 = nowMs()
    val rc = graft.Main.run(Seq("--start-date", start, "--end-date", end),
      spark, env, l => lines += ((nowMs(), l)))
    val t1 = nowMs()
    val gc1 = gcMs()

    // a batch is one day with files, delimited by Main's own day lines
    var prev = lines.find(_._2.startsWith("Will process")).map(_._1).getOrElse(t0)
    val batches = mutable.ArrayBuffer.empty[Batch]
    val skipped, loaded, failedDays = mutable.ArrayBuffer.empty[String]
    lines.foreach { case (ts, l) =>
      l match {
        case DayLine(day, rest) =>
          if (rest.startsWith("no files found")) skipped += day
          else {
            batches += Batch(s"r$r/$day", prev, ts)
            if (rest.startsWith("FAILED")) failedDays += day else loaded += day
          }
          prev = ts
        case _ =>
      }
    }
    val (processed, days) = lines.iterator.flatMap { case (_, l) =>
      Summary.findFirstMatchIn(l).map(m => (m.group(1).toInt, m.group(2).toInt))
    }.toSeq.headOption.getOrElse((0, 0))
    val inRange = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(start), java.time.LocalDate.parse(end)).toInt + 1
    val failed = math.max(0, inRange - processed - skipped.size)

    val wh = try Warehouse.dump(url, "table_name", "data_processing_log",
        a("int-col"), a("dec-col"), a("ts-col"))
      catch { case e: Exception => Map("warehouse_error" -> e.toString) }
    Warehouse.drop(url)
    val dump = wh ++ Map("rc" -> rc, "processed" -> processed, "days" -> days,
      "skipped" -> skipped.toSeq, "loaded" -> loaded.toSeq, "failed_days" -> failedDays.toSeq,
      "failure_lines" -> lines.map(_._2).filter(_.contains("FAILED")).toSeq)
    Round(r, measured, t0, t1, batches.toSeq, Nil, inRange, failed, gc1 - gc0, dump)
  }

  // ------------------------------------------------------------- corpus

  final case class CorpusInputs(docs: DataFrame, corpus: DataFrame, queries: DataFrame)

  private def readVectors(spark: SparkSession, path: String, dim: Int): DataFrame = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val fb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val n = fb.remaining() / dim
    val rows = (0 until n).map { i =>
      val v = new Array[Float](dim)
      fb.get(v)
      Row(i.toLong, v.toSeq)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  def corpusInputs(spark: SparkSession, a: Map[String, String]): CorpusInputs = {
    val lines = Files.readAllLines(Paths.get(a("docs")), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
    val docRows = lines.map { l =>
        val tab = l.indexOf('\t')
        Row(l.substring(0, tab).toLong, l.substring(tab + 1))
      }
    val docs = spark.createDataFrame(docRows.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))
    val dim = a("dim").toInt
    CorpusInputs(docs, readVectors(spark, a("corpus"), dim),
      readVectors(spark, a("queries"), dim))
  }

  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false)))

  /** One pass: near-duplicate pairs, their components, IVF top-k. Each
    * step consumes the previous step's collected result. */
  def corpusRound(spark: SparkSession, in: CorpusInputs, k: Int, r: Int,
                  measured: Boolean): Round = {
    val steps = mutable.ArrayBuffer.empty[Step]
    def step[A](name: String, layer: String)(f: => A): A = {
      val s = nowMs()
      val out = f
      steps += Step(name, layer, s, nowMs())
      out
    }
    val gc0 = gcMs()
    val t0 = nowMs()
    var dump: Map[String, Any] = Map.empty
    try {
      val pairs = step("minhash", "dedup") {
        Dedup.minhashNearDuplicates(in.docs, "doc_id", "text", threshold = 0.8, strict = true)
          .select("id_a", "id_b", "jaccard").collect()
      }
      val comps = step("components", "dedup") {
        val pairDf = spark.createDataFrame(
          pairs.toSeq.map(p => Row(p.getLong(0), p.getLong(1))).asJava, pairSchema)
        Dedup.connectedComponents(pairDf).select("id", "component").collect()
      }
      val top = step("ivf_topk", "similarity") {
        Similarity.ivfTopK(in.queries, in.corpus, k)
          .select("q_id", "rn", "vec_id", "cos").collect()
      }
      dump = Map(
        "pairs" -> pairs.toSeq.map(p => Seq[Any](p.getLong(0), p.getLong(1), p.getDouble(2))),
        "components" -> comps.toSeq.map(c => Seq(c.getLong(0), c.getLong(1))),
        "topk" -> top.toSeq.map(t => Seq[Any](t.getLong(0), t.getInt(1), t.getLong(2), t.getDouble(3))))
    } catch {
      case e: Exception => dump = Map("error" -> e.toString)
    }
    val t1 = nowMs()
    val failed = if (dump.contains("error")) 1 else 0
    Round(r, measured, t0, t1, Seq(Batch(s"r$r/pass", t0, t1)), steps.toSeq,
      1, failed, gcMs() - gc0, dump)
  }

  // -------------------------------------------------------------- trace

  /** A job or stage with no graft frame in its call site was started by
    * the harness collecting a result; inside a corpus step it takes the
    * layer of the entry point that step called. */
  private def layerIn(rd: Round, layer: String, t: Double): String =
    if (layer != "bench") layer
    else rd.steps.find(st => st.startMs <= t && t <= st.endMs).map(_.layer).getOrElse(layer)

  private def layerMetrics(rounds: Seq[Round], lis: LayerListener): Map[String, Double] = {
    val sums = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
    var batches = 0
    var jobsAll = 0
    rounds.foreach { rd =>
      val jobs = lis.jobs.filter(j => j.startMs >= rd.startMs && j.startMs <= rd.endMs).toSeq
        .map(j => j.copy(layer = layerIn(rd, j.layer, j.startMs.toDouble)))
      val ids = jobs.map(_.id).toSet
      val stages = lis.stages.filter(s => ids(s.jobId)).toSeq
        .map(s => s.copy(layer = layerIn(rd, s.layer, s.startMs.toDouble)))
      def iv(js: Seq[JobRec]) = js.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      Layers.traced.foreach { l =>
        val lj = jobs.filter(_.layer == l)
        val ls = stages.filter(_.layer == l)
        add(s"$l.jobs", lj.size)
        add(s"$l.busy_s", Intervals.unionLength(iv(lj), rd.startMs, rd.endMs) / 1000.0)
        add(s"$l.shuffle_bytes", ls.map(_.shuffleWrite).sum.toDouble)
        add(s"$l.spill_bytes", ls.map(_.spill).sum.toDouble)
        add(s"$l.rows_written", ls.map(_.recordsWritten).sum.toDouble)
      }
      add("sources.bytes_read", stages.map(_.bytesRead).sum.toDouble)
      add("pipeline.driver_s", (rd.endMs - rd.startMs -
        Intervals.unionLength(iv(jobs), rd.startMs, rd.endMs)) / 1000.0)
      add("exec.jobs", jobs.size)
      add("exec.stages", stages.size)
      add("exec.tasks", stages.map(_.tasks).sum)
      add("exec.cpu_s", stages.map(_.cpuNs).sum / 1e9)
      add("exec.run_s", stages.map(_.runMs).sum / 1000.0)
      add("exec.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble)
      add("jvm.gc_s", rd.gcMs / 1000.0)
      add("wall_s", rd.wallS)
      batches += rd.batches.size
      jobsAll += jobs.size
    }
    val n = math.max(1, rounds.size).toDouble
    val per = sums.map { case (k, v) => k -> v / n }.toMap
    per ++ Map(
      "pipeline.jobs_per_batch" -> jobsAll.toDouble / math.max(1, batches),
      "sinks.rows_per_s" ->
        (if (per("sinks.busy_s") > 0) per("sinks.rows_written") / per("sinks.busy_s") else 0.0))
  }

  /** Rounds, batches and steps from the harness; jobs and stages from
    * the listener, each nested in the innermost span that contains its
    * start. A layer's self time is its spans' time not covered by their
    * children. */
  private def spans(rounds: Seq[Round], lis: LayerListener): Map[String, Any] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(name: String, s: Double, e: Double, parent: Option[Int], layer: String,
            batch: Option[String]): Span = {
      val sp = Span(out.size, name, s, e, parent, layer, batch)
      out += sp
      sp
    }
    val containers = mutable.ArrayBuffer.empty[Span]
    rounds.foreach { rd =>
      val rs = add(s"round ${rd.index}${if (rd.measured) "" else " (warm-up)"}",
        rd.startMs, rd.endMs, None, "bench", None)
      containers += rs
      rd.batches.foreach { b =>
        val bs = add(b.id, b.startMs, b.endMs, Some(rs.id), "pipeline", Some(b.id))
        containers += bs
        rd.steps.filter(st => st.startMs >= b.startMs && st.startMs <= b.endMs).foreach { st =>
          containers += add(st.name, st.startMs, st.endMs, Some(bs.id), st.layer, Some(b.id))
        }
      }
    }
    val fixed = containers.toSeq
    val jobSpan = mutable.Map.empty[Int, Span]
    lis.jobs.foreach { j =>
      val t = j.startMs.toDouble
      val host = fixed.filter(c => c.startMs <= t && t <= c.endMs)
        .sortBy(c => c.endMs - c.startMs).headOption
      val round = rounds.find(rd => rd.startMs <= t && t <= rd.endMs)
      val layer = round.fold(j.layer)(layerIn(_, j.layer, t))
      jobSpan(j.id) = add(s"job ${j.id} ${j.site}", t, math.max(t, j.endMs.toDouble),
        host.map(_.id), layer, host.flatMap(_.batch))
    }
    lis.stages.foreach { s =>
      val parent = jobSpan.get(s.jobId)
      val layer = if (s.layer == "bench") parent.fold(s.layer)(_.layer) else s.layer
      add(s"stage ${s.id}.${s.attempt}", s.startMs.toDouble, s.endMs.toDouble,
        parent.map(_.id), layer, parent.flatMap(_.batch))
    }
    val children = out.groupBy(_.parent)
    val self = mutable.TreeMap.empty[String, Double]
    out.foreach { sp =>
      val kids = children.getOrElse(Some(sp.id), Nil).map(c => (c.startMs, c.endMs))
      val own = (sp.endMs - sp.startMs) - Intervals.unionLength(kids, sp.startMs, sp.endMs)
      self(sp.layer) = self.getOrElse(sp.layer, 0.0) + own / 1000.0
    }
    Map("layer_self_s" -> self, "spans" -> out.map(_.toMap).toSeq)
  }

  // --------------------------------------------------------------- main

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val localDir = a("local-dir")

    // set-up: process start to a ready engine (session up, warehouse reachable)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = newSession(cores, localDir)
    DriverManager.getConnection("jdbc:derby:memory:ping;create=true", "app", "app").close()
    val setupS = (nowMs() - jvmStart) / 1000.0
    val lis = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(lis)

    val runRound: (Int, Boolean) => Round = a("workload") match {
      case "etl" => (r, m) => etlRound(spark, a, r, m)
      case "corpus" =>
        val in = corpusInputs(spark, a)
        val k = a("k").toInt
        (r, m) => corpusRound(spark, in, k, r, m)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val rounds = mutable.ArrayBuffer(runRound(0, false))
    val t0 = nowMs()
    while (nowMs() - t0 < seconds * 1000.0) rounds += runRound(rounds.size, true)

    val lines = rounds.map { rd =>
      json(Map("round" -> rd.index, "measured" -> rd.measured, "wall_s" -> rd.wallS,
        "attempted" -> rd.attempted, "failed" -> rd.failed,
        "batch_s" -> rd.batches.map(b => (b.endMs - b.startMs) / 1000.0),
        "steps_s" -> rd.steps.map(s => Seq(s.name, (s.endMs - s.startMs) / 1000.0)),
        "dump" -> rd.dump))
    }
    Files.write(out.resolve("rounds.jsonl"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

    val measured = rounds.filter(_.measured).toSeq
    var result: Map[String, Any] = Map("setup_s" -> setupS,
      "measured_rounds" -> measured.size)
    if (trace) {
      org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
      result += ("layers" -> layerMetrics(measured, lis))
      Files.write(out.resolve("spans.json"),
        json(spans(rounds.toSeq, lis)).getBytes(StandardCharsets.UTF_8))
    }
    result += ("peak_rss_mb" -> peakRssMb())
    Files.write(out.resolve("result.json"), json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0)
  }
}
