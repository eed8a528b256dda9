package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Q, Registry, SparkEntry, Tables}
import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, pretty}

/** One benchmark run in one JVM: a single closed-loop client runs the
  * workload's rows one after another on `local[cpus]`.
  *
  * The run sets up its session (timed from JVM start), then makes a cold
  * pass (each row's first run in the session, followed off the clock by
  * the output check), then warm passes until `--seconds` have gone by;
  * the last untraced warm pass checks the outputs again. A traced run
  * alternates untraced and traced warm passes and reports per-layer
  * metrics; an untraced run reports end-to-end ones.
  * The full result goes to `--out`; the last stdout line is the summary.
  */
object Harness {
  final case class Opts(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, data: String, out: String, digests: String,
      head: String, sourceSha: String, inject: Boolean)

  /** One execution of one row. `checked` says whether its output was
    * compared with the digest; `tree` and `events` are set on traced passes.
    */
  final case class Sample(pass: String, passNo: Int, order: Int, row: String,
      buildS: Double, totalS: Double, error: Option[String], checked: Boolean,
      tree: Option[Span] = None, events: Option[RowEvents] = None) {
    def ok: Boolean = error.isEmpty
  }

  /** A pass with the JVM-wide counters read around it, and the CPU time
    * the host's hypervisor stole from the machine meanwhile.
    */
  final case class Pass(samples: Seq[Sample], jitMs: Long, gcMs: Long, stealS: Double) {
    def ok: Seq[Sample] = samples.filter(_.ok)
    def wallS: Double = ok.map(_.totalS).sum
  }

  val InjectedThrow = "perfbench_injected_throw"
  val InjectedStale = "perfbench_injected_stale"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("oracle-out")) return dumpOracles(a("data"), a("oracle-out"), a("cpus").toInt)
    val o = Opts(Workloads(a("workload")), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt, a("data"), a("out"), a("digests"),
      a("head"), a("source-sha"), a("inject") == "1")
    val (summary, full) = run(o)
    Files.createDirectories(Paths.get(o.out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(o.out), pretty(full))
    println(compact(summary))
  }

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder().appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session up, native functions registered, every table loaded and
    * cached. Returns the session and the seconds spent in `Tables`.
    */
  private def setUp(o: Opts): (SparkSession, Double) = {
    val s = session(o.cpus)
    graft.functions.Native.register(s)
    val t = System.nanoTime()
    Tables.names.foreach(n => Tables(s, o.data, n).count())
    (s, (System.nanoTime() - t) / 1e9)
  }

  private def storedMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  /** Machine-wide steal time (/proc/stat, in USER_HZ ticks of 10 ms). */
  private def stealS: Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption.map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
  private def load1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A steady-state pass: the sum over rows of each row's median time in
    * `passes`. One stalled row then does not move the figure as it moves
    * the sum of the pass it fell in.
    */
  def warmS(passes: Seq[Pass]): Double =
    passes.flatMap(_.ok).groupBy(_.row).values.map(s => median(s.map(_.totalS))).sum

  /** Harrell-Davis estimate of quantile `p`: a Beta-weighted average of all
    * order statistics. A single order statistic jumps between the samples
    * of adjacent rows from run to run; this estimate moves smoothly.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    if (n < 2) s.headOption.getOrElse(0.0)
    else s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }

  /** The highest percentile with at least ten samples beyond it, and the
    * estimate there. Below 21 samples that percentile would not reach the
    * median, so the maximum is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (xs.maxOption.getOrElse(0.0), 100.0)
    else {
      val p = (xs.size - 10.0) / xs.size
      (quantile(xs, p), 100.0 * p)
    }

  /** The workload's rows, plus, for the benchmark's own tests, one row
    * that throws and one whose output is right on its first run only.
    */
  private def rowsOf(o: Opts): Seq[Q] = {
    var staleRuns = 0
    val throws = Q(InjectedThrow, None, (_, _) => throw new IllegalStateException("injected failure"))
    val stale = Q(InjectedStale, None, { (s, _) =>
      staleRuns += 1
      s.range(if (staleRuns == 1) 10 else 9).toDF()
    })
    o.workload.rows.map(Registry.byId) ++ (if (o.inject) Seq(throws, stale) else Nil)
  }

  private def loadDigests(path: String): Map[String, Digest.Result] = {
    implicit val formats: Formats = DefaultFormats
    parse(Files.readString(Paths.get(path))).extract[Map[String, Map[String, JValue]]].map {
      case (k, v) => k -> Digest.Result(v("sha256").extract[String], v("rows").extract[Long])
    }
  }

  def run(o: Opts): (JValue, JValue) = {
    val loadBefore = load1m
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, loadS) = setUp(o)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val coldOrder = rowsOf(o)
    if (sc.defaultParallelism != o.cpus) {
      System.err.println(s"perfbench: refusing to run: cpus ${o.cpus} != master " +
        s"parallelism ${sc.defaultParallelism} (${sc.master})")
      sys.exit(3)
    }
    val header = JObject(
      "workload" -> JString(o.workload.name), "seed" -> JLong(o.seed),
      "trace" -> JBool(o.trace), "seconds" -> JDouble(o.seconds),
      "cpus" -> JInt(o.cpus), "jvm_cpus" -> JInt(Runtime.getRuntime.availableProcessors),
      "master" -> JString(sc.master), "default_parallelism" -> JInt(sc.defaultParallelism),
      "shuffle_partitions" -> JString(spark.conf.get("spark.sql.shuffle.partitions")),
      "aqe" -> JString(spark.conf.get("spark.sql.adaptive.enabled")),
      "xmx_mb" -> JLong(Runtime.getRuntime.maxMemory / 1048576),
      "jvm_args" -> JArray(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-X") || a.startsWith("-D")).map(JString(_)).toList),
      "extra_jvm" -> JString(sys.env.getOrElse("SPARK_GRAFT_EXTRA_JVM", "unset")),
      "git_head" -> JString(o.head), "source_sha256" -> JString(o.sourceSha),
      "jdk" -> JString(s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}"),
      "spark" -> JString(org.apache.spark.SPARK_VERSION),
      "data" -> JString(o.data), "rows" -> JArray(o.workload.rows.map(JString(_)).toList),
      "injected" -> JArray(coldOrder.map(_.id).filterNot(o.workload.rows.toSet).map(JString(_)).toList),
      "load_1m_before" -> JDouble(loadBefore))
    val cachedMb = storedMb(spark)
    // Each warm pass runs the rows in its own order drawn from the seed, so
    // no one order's effect on the rows after a heavy row decides the run.
    val orders = new scala.util.Random(o.seed)
    def warmOrder = orders.shuffle(coldOrder)
    val want = loadDigests(o.digests) ++
      (if (o.inject) Map(InjectedStale -> Digest.of(spark.range(10).toDF())) else Map.empty)
    val collector = if (o.trace) Some(new Collector(spark)) else None

    def pass(label: String, no: Int, rows: Seq[Q], traced: Boolean, check: Boolean): Pass = {
      val c = if (traced) collector else None
      c.foreach(_.attach())
      val (jit0, gc0, steal0) = (jitMs, gcMs, stealS)
      val samples = rows.zipWithIndex.map { case (q, i) =>
        c.foreach(_.mark())
        val t0 = System.nanoTime()
        var t1 = 0L
        val result = try {
          val df = q.run(spark, o.data)
          t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Right(df)
        } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        val t2 = System.nanoTime()
        if (t1 == 0L) t1 = t2
        val events = c.map(_.take(t0, t1))
        val error = result match {
          case Left(e) => Some(e)
          case Right(df) if check =>
            // Off the clock: the row's result against its oracle digest.
            val err = want.get(q.id) match {
              case None => Some("no digest for row")
              case Some(d) =>
                try {
                  val got = Digest.of(df)
                  if (got == d) None
                  else Some(s"output digest ${got.sha256.take(12)}/${got.rows} rows, want ${d.sha256.take(12)}/${d.rows}")
                } catch { case NonFatal(e) => Some(s"output check failed: ${e.getMessage}") }
            }
            c.foreach(_.take(0L, 0L))
            err
          case Right(_) => None
        }
        error.foreach(e => System.err.println(s"perfbench: ${q.id} failed ($label): $e"))
        Sample(label, no, i, q.id, (t1 - t0) / 1e9, (t2 - t0) / 1e9, error, check,
          events.map(ev => Span.rowTree(t0, t1, t2, ev.spans)), events)
      }
      val p = Pass(samples, jitMs - jit0, gcMs - gc0, stealS - steal0)
      c.foreach(_.detach())
      p
    }

    val cold = pass("cold", 0, coldOrder, traced = o.trace, check = true)
    val untraced, traced = collection.mutable.ArrayBuffer.empty[Pass]
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    val minUntraced = if (o.trace) 2 else 3
    var no = 0
    var last = false
    // Warm passes until the time is up: at least three untraced ones, or
    // two untraced and two traced ones, alternating, in a traced run. The
    // untraced pass expected to be the last also checks the outputs, so a
    // result that goes wrong only on a repeated run counts as failed.
    while (!last) {
      val done = untraced.size
      last = done + 1 >= minUntraced && (done == 0 || elapsed / done * (done + 1) >= o.seconds)
      untraced += pass("warm", no, warmOrder, traced = false, check = last); no += 1
      if (o.trace) { traced += pass("warm", no, warmOrder, traced = true, check = false); no += 1 }
    }
    val warm = untraced.toSeq ++ traced
    val blocksMb = storedMb(spark)
    spark.stop()
    val retainedMb = if (o.trace) {
      (1 to 3).foreach(_ => System.gc())
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    } else 0.0

    val all = cold.samples ++ warm.flatMap(_.samples)
    val attempted = all.size
    val failed = all.count(!_.ok)
    val warmOk = untraced.flatMap(_.ok).map(_.totalS).toSeq
    val (tailS, tailPct) = tail(warmOk)
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_s" -> cold.wallS,
      "warm_s" -> warmS(untraced.toSeq),
      "row_p50_s" -> quantile(warmOk, 0.5),
      "row_tail_s" -> tailS,
      "peak_rss_mb" -> peakRssMb)
    val layers = if (o.trace) Layers.metrics(cold, traced.toSeq, warmS(untraced.toSeq),
      o.cpus, loadS, cachedMb, blocksMb, retainedMb) else Map.empty[String, Double]
    val reported = if (o.trace) Metrics.perLayer.map(m => m -> layers(m.name))
      else Metrics.endToEnd.map(m => m -> e2e(m.name))
    val metrics = JObject(reported.map { case (m, v) =>
      m.name -> JObject("value" -> JDouble(v), "unit" -> JString(m.unit)) }.toList)
    val correct = failed == 0
    val summary = JObject("correct" -> JBool(correct), "attempted" -> JInt(attempted),
      "failed" -> JInt(failed), "metrics" -> metrics)
    def sampleJson(s: Sample) = JObject(
      "pass" -> JString(s.pass), "pass_no" -> JInt(s.passNo), "order" -> JInt(s.order),
      "row" -> JString(s.row), "build_s" -> JDouble(s.buildS), "total_s" -> JDouble(s.totalS),
      "ok" -> JBool(s.ok), "checked" -> JBool(s.checked),
      "error" -> s.error.map(JString(_)).getOrElse(JNull),
      "traced" -> JBool(s.tree.isDefined))
    val full = JObject(
      "header" -> (header merge JObject("load_1m_after" -> JDouble(load1m))),
      "correct" -> JBool(correct), "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "fail_ratio" -> JDouble(failed.toDouble / attempted),
      "metrics" -> metrics,
      "end_to_end" -> JObject(e2e.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
      "per_layer" -> JObject(layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
      "detail" -> JObject(
        "cold_pass_s" -> JDouble(cold.wallS),
        "warm_pass_s" -> JArray(untraced.map(p => JDouble(p.wallS)).toList),
        "warm_pass_jit_s" -> JArray(untraced.map(p => JDouble(p.jitMs / 1e3)).toList),
        "warm_pass_gc_s" -> JArray(untraced.map(p => JDouble(p.gcMs / 1e3)).toList),
        "warm_pass_steal_s" -> JArray(untraced.map(p => JDouble(p.stealS)).toList),
        "cold_pass_steal_s" -> JDouble(cold.stealS),
        "traced_warm_pass_s" -> JArray(traced.map(p => JDouble(p.wallS)).toList),
        "row_tail_percentile" -> JDouble(tailPct),
        "row_samples" -> JInt(warmOk.size)),
      "samples" -> JArray(all.map(sampleJson).toList),
      "rows_traced" -> JArray((cold +: traced.toSeq).flatMap(_.samples).filter(_.tree.isDefined)
        .map(Layers.rowJson(o.workload.name, _)).toList))
    (summary, full)
  }

  /** Writes the oracle SQL of every workload row, generated against `data`
    * (the ANN rows inline parameters trained on it), as a JSON object.
    */
  private def dumpOracles(data: String, out: String, cpus: Int): Unit = {
    val s = session(cpus)
    val ids = Workloads.all.flatMap(_.rows).toSet
    val sql = SparkEntry.oracleSqlFor(s, data).filter { case (k, _) => ids(k) }
    Files.writeString(Paths.get(out), pretty(JObject(sql.toList.sortBy(_._1).map {
      case (k, v) => k -> JString(v) })), UTF_8)
    s.stop()
  }
}
