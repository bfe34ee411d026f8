package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.api.Processor
import graft.model.UpdateResult

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points and writes what it saw as JSON lines.
  *
  * Usage: `Harness <workload> <plan.tsv> <outDir> <seconds> <trace 0|1>`
  *
  * The plan is written by `run.py`; every line is tab-separated, its first
  * field names the line's kind. Output:
  *   - `ops.jsonl`: one line per timed or set-up operation (kind, wall,
  *     rows and digests of the result);
  *   - `summary.json`: peak RSS, GC time and the CPU time of the timed phase;
  *   - `trace.jsonl` (trace 1 only): jobs, stages, SQL scan metrics and
  *     streaming progress from [[Tracer]].
  */
object Harness {

  def main(args: Array[String]): Unit = {
    // exit explicitly: a thread the program leaves behind must not keep the
    // JVM, and so the benchmark run, alive
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, planFile, outDir, secondsArg, traceArg) = args
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    def one(kind: String): String = plan.find(_.head == kind).map(_(1))
      .getOrElse(sys.error(s"plan has no $kind line"))
    val cores = one("cores")
    val scratch = one("scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .config("spark.sql.ui.retainedExecutions", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = traceArg == "1"
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val ops = new Ops(spark, Paths.get(outDir, "ops.jsonl"))
    val deadline = secondsArg.toDouble
    val gc0 = Ops.gcMillis()
    val window = try workload match {
      case "forex_query" => Workloads.query(spark, ops, plan, deadline, trace)
      case "operator_suite" => Workloads.suite(spark, ops, plan, deadline, outDir)
      case other => sys.error(s"unknown workload $other")
    } finally ops.close()
    tracer.foreach(_.dump(spark, Paths.get(outDir, "trace.jsonl")))
    Files.writeString(Paths.get(outDir, "summary.json"), Json.obj(
      "peak_rss_kb" -> Ops.peakRssKb(),
      "gc_ms" -> (Ops.gcMillis() - gc0),
      "timed_cpu_ms" -> window.cpuMs))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness output (numbers, strings, maps,
  * sequences, options). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Timed operations. Each runs inside a span: the span id and the module
  * that owns the call ride on the thread's Spark local properties, which
  * jobs (and the threads a call starts) inherit, so the tracer can tie every
  * job back to the public call that caused it.
  */
final class Ops(spark: SparkSession, path: Path) {
  private val out = Files.newBufferedWriter(path, UTF_8)
  private var nextSpan = 0L

  def span[T](phase: String, kind: String, id: String, owner: String)(body: => T)
      : (T, Map[String, Any]) = {
    nextSpan += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Ops.SpanKey, nextSpan.toString)
    sc.setLocalProperty(Ops.OwnerKey, owner)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - n0
      (r, Map("phase" -> phase, "kind" -> kind, "id" -> id, "owner" -> owner,
        "span" -> nextSpan, "t0" -> t0, "t1" -> System.currentTimeMillis(), "ms" -> ns / 1e6))
    } finally {
      sc.setLocalProperty(Ops.SpanKey, null)
      sc.setLocalProperty(Ops.OwnerKey, null)
    }
  }

  def record(fields: Map[String, Any]): Unit = {
    out.write(Json.value(fields)); out.newLine()
  }

  def close(): Unit = out.close()
}

object Ops {
  val SpanKey = "perfbench.span"
  val OwnerKey = "perfbench.owner"

  /** The timed phase: the CPU time the whole JVM (driver, executor
    * threads, GC, JIT) spent inside it. */
  final case class Window(cpuMs: Double)

  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def k(x: Double): Long = Math.round(x * 1e5)

  /** Order-sensitive digest of the key columns of a result, in the same
    * line format `checks.py` computes from the generator. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-1")
    def add(line: String): Unit = { md.update(line.getBytes(UTF_8)); md.update('\n'.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def tickLine(r: Row): String =
    s"${micros(r.getAs[Timestamp]("timestamp"))}|${k(r.getAs[Double]("bid"))}|${k(r.getAs[Double]("ask"))}"

  def barLine(r: Row): String =
    s"${micros(r.getAs[Timestamp]("timestamp"))}|${k(r.getAs[Double]("open"))}|" +
      s"${k(r.getAs[Double]("high"))}|${k(r.getAs[Double]("low"))}|" +
      s"${k(r.getAs[Double]("close"))}|${r.getAs[Int]("tick_count_raw_spread")}"

  /** Order-sensitive hash over every column of every row. */
  def fullHash(rows: Array[Row]): String = {
    val d = new Digest
    rows.foreach(r => d.add(r.toSeq.map(String.valueOf).mkString("\u0001")))
    d.hex
  }
}

object Workloads {
  private def opt(s: String): Option[String] = if (s == "-" || s.isEmpty) None else Some(s)

  private def update(ops: Ops, phase: String, proc: Processor, warehouse: String,
      line: Seq[String]): Unit = {
    val Seq(_, pair, month, raw, std) = line
    val (res, span) = ops.span(phase, "update", s"$pair/$month", "api") {
      proc.updateData(pair, raw, std)
    }
    val r: UpdateResult = res.getOrElse(sys.error("updateData returned a dry run"))
    ops.record(span ++ Map("warehouse" -> warehouse,
      "months" -> r.monthsProcessed, "ticks" -> r.ticksInserted, "bars" -> r.barsGenerated,
      "bad" -> r.badRecords))
  }

  /** forex_query: set-up builds the warehouse through `updateData` and
    * warms each request kind once; the timed phase replays the request list
    * in whole passes until `seconds` have passed. With `trace`, each ranged
    * request is followed by the benchmark's own file-pruning plan. */
  def query(spark: SparkSession, ops: Ops, plan: Seq[Seq[String]], seconds: Double,
      trace: Boolean): Ops.Window = {
    val warehouse = Paths.get(plan.find(_.head == "root").get(1)).resolve("w").toString
    val proc = new Processor(spark, warehouse)
    plan.filter(_.head == "month").foreach(l => update(ops, "setup", proc, warehouse, l))
    plan.filter(_.head == "warm").foreach(l =>
      request(spark, ops, proc, warehouse, l, "warm", 0, trace))
    val reqs = plan.filter(_.head == "req")
    val t0 = System.currentTimeMillis()
    val c0 = Ops.cpuNanos()
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() - t0 < seconds * 1000) {
      reqs.foreach(l => request(spark, ops, proc, warehouse, l, "timed", pass, trace))
      pass += 1
    }
    Ops.Window((Ops.cpuNanos() - c0) / 1e6)
  }

  private def request(spark: SparkSession, ops: Ops, proc: Processor, warehouse: String,
      l: Seq[String], phase: String, pass: Int, trace: Boolean): Unit = {
    val id = l(1)
    val kind = l(2)
    def done(span: Map[String, Any], extra: (String, Any)*): Unit =
      ops.record(span ++ extra.toMap ++ Map("pass" -> pass))
    def plan(table: String, pair: String, start: Option[String], end: Option[String],
        bands: Seq[(String, Any, Any)], pairs: Seq[(String, String)]): Map[String, Any] = {
      import graft.storage.PrunedScan
      val conf = spark.sessionState.newHadoopConf()
      val rootPath = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
      val lo = start.map(_ + " 00:00:00")
      val hi = end.map(_ + " 23:59:59.999999")
      val n0 = System.nanoTime()
      val files = PrunedScan.monthPartitionedFiles(conf, rootPath, "timestamp", Some(pair),
        lo.map(PrunedScan.monthOfLo(spark, _)), hi.map(PrunedScan.monthOfHi(spark, _)),
        PrunedScan.sessionInstant(spark, lo.getOrElse("1900-01-01")),
        PrunedScan.sessionInstant(spark, hi.getOrElse("9999-01-01")), bands, pairs)
      val planMs = (System.nanoTime() - n0) / 1e6
      val dir = Paths.get(warehouse, table, s"instrument=$pair")
      val all = {
        val s = Files.walk(dir)
        try s.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      Map("plan_ms" -> planMs, "plan_files" -> files.map(_.size), "table_files" -> all)
    }
    kind match {
      case "ticks" =>
        val Seq(pair, variant, start, end, lo, hi, zero) = l.drop(3)
        val band = (opt(lo), opt(hi)) match {
          case (Some(a), Some(b)) => Some((a.toDouble, b.toDouble))
          case _ => None
        }
        val (rows, span) = ops.span(phase, kind, id, "storage") {
          proc.queryTicks(pair, variant, opt(start), opt(end), bidRange = band,
            zeroSpread = zero == "1").collect()
        }
        val d = new Ops.Digest
        rows.foreach(r => d.add(Ops.tickLine(r)))
        done(span, "rows" -> rows.length, "key" -> d.hex, "full" -> Ops.fullHash(rows))
        if (trace) ops.record(Map("phase" -> "plan", "of" -> phase, "id" -> id) ++
          plan(s"${variant}_ticks", pair, opt(start), opt(end),
            band.toSeq.map { case (a, b) => ("bid", a: Any, b: Any) },
            if (zero == "1") Seq(("bid", "ask")) else Nil))
      case "ohlc" =>
        val Seq(pair, tf, start, end) = l.drop(3)
        val owner = if (tf == "1m") "storage" else "api"
        val (rows, span) = ops.span(phase, kind, id, owner) {
          proc.queryOhlc(pair, tf, opt(start), opt(end)).collect()
        }
        val d = new Ops.Digest
        rows.foreach(r => d.add(Ops.barLine(r)))
        done(span, "tf" -> tf, "rows" -> rows.length, "key" -> d.hex, "full" -> Ops.fullHash(rows))
        if (trace) ops.record(Map("phase" -> "plan", "of" -> phase, "id" -> id) ++
          plan("ohlc_1m", pair, opt(start), opt(end), Nil, Nil))
      case "tpage" | "opage" =>
        val Seq(pair, variant, size, pages, start, end) = l.drop(3)
        val d = new Ops.Digest
        var cursor: Option[Timestamp] = None
        var more = true
        var n = 0
        var total = 0
        while (more && n < pages.toInt) {
          val (rows, span) = ops.span(phase, kind, s"$id#$n", "query") {
            val page =
              if (kind == "tpage") proc.queryTicksPage(pair, variant, cursor, size.toInt, opt(start), opt(end))
              else proc.queryOhlcPage(pair, cursor, size.toInt, opt(start), opt(end))
            cursor = page.nextCursor
            more = page.hasMore
            page.rows.collect()
          }
          rows.foreach(r => d.add(if (kind == "tpage") Ops.tickLine(r) else Ops.barLine(r)))
          total += rows.length
          done(span, "walk" -> id, "rows" -> rows.length)
          n += 1
        }
        ops.record(Map("phase" -> "walk", "of" -> phase, "id" -> id, "pass" -> pass, "pages" -> n,
          "rows" -> total, "key" -> d.hex))
      case "tbatch" | "obatch" =>
        val Seq(pair, variant, size, pages, start, end) = l.drop(3)
        val it =
          if (kind == "tbatch") proc.queryTicksBatches(pair, variant, size.toInt, Some(pages.toInt), opt(start), opt(end))
          else proc.queryOhlcBatches(pair, size.toInt, Some(pages.toInt), opt(start), opt(end))
        val d = new Ops.Digest
        var n = 0
        var total = 0
        var more = true
        while (more) {
          val (rows, span) = ops.span(phase, kind, s"$id#$n", "query") {
            if (it.hasNext) Some(it.next().collect()) else None
          }
          rows match {
            case Some(rs) =>
              rs.foreach(r => d.add(if (kind == "tbatch") Ops.tickLine(r) else Ops.barLine(r)))
              total += rs.length
              done(span, "walk" -> id, "rows" -> rs.length)
              n += 1
            case None => more = false
          }
        }
        ops.record(Map("phase" -> "walk", "of" -> phase, "id" -> id, "pass" -> pass, "pages" -> n,
          "rows" -> total, "key" -> d.hex))
      case "coverage" | "missing" | "instruments" | "dates" =>
        val pair = l.lift(3).getOrElse("")
        val (answer, span) = ops.span(phase, "meta", id, "api") {
          kind match {
            case "coverage" =>
              val c = proc.getCoverage(pair)
              Seq(c.rawSpreadTicks, c.standardTicks, c.ohlcBars,
                c.earliest.map(Ops.micros).getOrElse(""), c.latest.map(Ops.micros).getOrElse(""))
                .mkString("|")
            case "missing" => proc.missingMonths(pair).mkString(",")
            case "instruments" => proc.getInstruments.mkString(",")
            case "dates" =>
              val (a, b) = proc.availableDates(pair)
              s"${a.getOrElse("")}|${b.getOrElse("")}"
          }
        }
        done(span, "call" -> kind, "rows" -> 1, "answer" -> answer,
          "clock" -> java.time.YearMonth.now(java.time.ZoneOffset.UTC).toString)
      case other => sys.error(s"unknown request kind $other")
    }
  }

  /** operator_suite: a warm-up query (set-up), then whole passes of the
    * declared queries until `seconds` have passed, each consumed in full on
    * the driver; the first result of each is dumped for the oracle
    * comparison once the timed phase is over. */
  def suite(spark: SparkSession, ops: Ops, plan: Seq[Seq[String]], seconds: Double,
      outDir: String): Ops.Window = {
    val dir = plan.find(_.head == "data").get(1)
    val queries = plan.filter(_.head == "query").map(l => (l(1), l(2)))
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json.value(queries.map { case (q, _) => q -> oracle(q) }.toMap))
    plan.filter(_.head == "warm").foreach { l =>
      val (rows, span) = ops.span("setup", "query", l(1), l(2))(all(l(1))(spark, dir).collect())
      ops.record(span ++ Map("rows" -> rows.length, "full" -> Ops.fullHash(rows)))
    }
    val first = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val t0 = System.currentTimeMillis()
    val c0 = Ops.cpuNanos()
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() - t0 < seconds * 1000) {
      queries.foreach { case (q, owner) =>
        val ((schema, rows), span) = ops.span("timed", "query", q, owner) {
          val df = all(q)(spark, dir)
          (df.schema, df.collect())
        }
        ops.record(span ++ Map("pass" -> pass, "rows" -> rows.length, "full" -> Ops.fullHash(rows)))
        first.getOrElseUpdate(q, (schema, rows))
      }
      pass += 1
    }
    val window = Ops.Window((Ops.cpuNanos() - c0) / 1e6)
    first.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/out/$q")
    }
    window
  }
}
