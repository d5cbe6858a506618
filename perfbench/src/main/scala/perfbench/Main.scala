package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

/** One benchmark run of one workload in one JVM: an untimed warm pass that
  * checks every output against its stored fingerprint, then timed passes,
  * each in a fresh session so that memos are shared within a pass only.
  * One client thread issues the queries back to back (a closed loop).
  *
  * With `--trace 1`, timed passes alternate between untraced and traced;
  * the traced ones give the per-layer metrics and the difference between
  * the two kinds gives the tracing overhead.
  *
  * With `--fingerprint-out FILE` it runs the warm pass only and writes the
  * fingerprint of every key (see `make_fingerprints.py`).
  *
  * The engine is reached only through `graft.SparkEntry` and Spark's public
  * APIs. The last line on stdout is the result as one JSON object.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      passes: Int, trace: Boolean, cores: Int, data: String, work: String,
      keys: Vector[String], write: Boolean, expected: Map[String, String],
      startMicros: Long, fingerprintOut: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def lines(f: String) = Files.readAllLines(Paths.get(f)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toVector
    Opts(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      passes = req("passes").toInt,
      trace = req("trace") == "1",
      cores = req("cores").toInt,
      data = req("data"),
      work = req("work"),
      keys = lines(req("keys")),
      write = req("action") match {
        case "count" => false
        case "write" => true
        case a => throw new IllegalArgumentException(s"unknown action $a")
      },
      expected = m.get("expected").map(lines).getOrElse(Vector.empty)
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap,
      startMicros = req("start-us").toLong,
      fingerprintOut = m.get("fingerprint-out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val unknown = o.keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"keys not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(o, spark).run()
    finally {
      spark.stop()
      deleteTree(new File(s"${o.work}/sink"))
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Time, CPU and latencies of one pass; old-gen occupancy (NaN when not
  * measured). */
final case class PassRec(index: Int, traced: Boolean, wallS: Double,
    cpuS: Double, oldGenMb: Double, latencies: Seq[(String, Double)])

final class Run(o: Main.Opts, base: SparkSession) {
  private val sc = base.sparkContext
  /** The seed sets the base order of the keys; pass i runs it rotated by i,
    * so over as many passes as keys each key opens a session once and every
    * shared memo is paid by each of its consumers in turn. */
  private val baseOrder = new scala.util.Random(o.seed).shuffle(o.keys)
  private def order(pass: Int): Seq[String] = {
    val i = pass % baseOrder.size
    baseOrder.drop(i) ++ baseOrder.take(i)
  }
  private val queries = graft.SparkEntry.queries
  private val sinkDir = s"${o.work}/sink"
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[(Int, String, String)]
  private var mismatches = 0
  private val warmLatencies = mutable.ArrayBuffer.empty[(String, Double)]

  // trace state
  private val events = new SparkEvents
  private var nextSpanId = 1
  private val allSpans = mutable.ArrayBuffer.empty[Span]
  private val layerTotals = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val perQuery = mutable.Map.empty[String, mutable.Map[String, Double]]

  /** Build the query, then run its action; the action counts rows, or
    * writes the result as parquet the way graft.Verify does. */
  private def build(s: SparkSession, key: String): DataFrame = queries(key)(s, o.data)

  private def act(df: DataFrame, key: String): Unit =
    if (o.write)
      df.schema.fields.foldLeft(df) { (acc, f) =>
        if (f.dataType == TimestampType) acc.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        else acc
      }.coalesce(1).write.mode("overwrite").parquet(s"$sinkDir/$key")
    else df.count()

  private def fingerprint(s: SparkSession, df: DataFrame, key: String): String =
    Fingerprint.of(if (o.write) s.read.parquet(s"$sinkDir/$key") else df)

  private def fail(pass: Int, key: String, e: Throwable): Unit = {
    failures += ((pass, key, s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    System.err.println(s"[perfbench] pass $pass $key failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  /** The untimed first pass: builds, runs and checks every key. */
  private def warmPass(s: SparkSession): Map[String, String] = {
    val got = mutable.LinkedHashMap.empty[String, String]
    order(0).foreach { key =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = build(s, key)
        act(df, key)
        val fp = fingerprint(s, df, key)
        got(key) = fp
        if (o.fingerprintOut.isEmpty && !o.expected.get(key).contains(fp)) {
          mismatches += 1
          fail(0, key, new IllegalStateException(
            s"wrong result: fingerprint $fp, expected ${o.expected.getOrElse(key, "none stored")}"))
        }
      } catch { case NonFatal(e) => fail(0, key, e) }
      warmLatencies += key -> (System.nanoTime() - t0) / 1e9
    }
    got.toMap
  }

  /** Free what earlier sessions cached, so each pass starts from the same
    * storage state; its memos are rebuilt in the pass's own session. */
  private def releaseCaches(): Unit = {
    base.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Old-gen occupancy after a full collection. Spark's context cleaner
    * frees broadcast and shuffle blocks on its own thread, after a
    * collection has found their handles unreachable: collect, give the
    * cleaner time, collect again. */
  private def oldGenMbAfterGc(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed / 1048576.0)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** CPU time of the JVM's Java threads: the client, Spark's scheduler and
    * executor task threads. JIT compiler and GC threads are not Java threads
    * and are left out; warm-up and heap sizing, not the queries, set those. */
  private def javaThreadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  private def timedPass(index: Int, traced: Boolean, heap: Boolean): PassRec = {
    releaseCaches()
    System.gc()
    val s = base.newSession()
    s.range(1).count() // session state is built lazily: not on the first query's clock
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val planning = new PlanningEvents
    val trace = if (traced) Some(new PassTrace(nextSpanId, nextSpanId + 1)) else None
    val rules0 = if (traced) RuleExecutor.getCurrentMetrics() else null
    val graftRules0 = if (traced) graftRuleNanos() else 0L
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    var memoRdds, memoBytes, sinkFiles = 0.0
    if (traced) {
      sc.addSparkListener(events)
      s.listenerManager.register(planning)
    }
    val passStart = Clock.micros()
    val cpu0 = javaThreadCpu()
    val t0 = System.nanoTime()
    order(index).zipWithIndex.foreach { case (key, i) =>
      attempted += 1
      val group = s"p$index.q$i"
      if (traced) sc.setJobGroup(group, key)
      val qStart = Clock.micros()
      val q0 = System.nanoTime()
      try {
        val df = build(s, key)
        val bEnd = Clock.micros()
        act(df, key)
        val aEnd = Clock.micros()
        lat += key -> (System.nanoTime() - q0) / 1e9
        trace.foreach { t =>
          val qid = t.add(t.passSpanId, "query", key, qStart, aEnd)
          t.add(qid, "build", key, qStart, bEnd)
          t.add(qid, "action", key, bEnd, aEnd)
          t.groups(qid) = group
          val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
          memoRdds = math.max(memoRdds, cached.length.toDouble)
          memoBytes = math.max(memoBytes, cached.map(r => (r.memSize + r.diskSize).toDouble).sum)
          if (o.write) sinkFiles += Option(new File(s"$sinkDir/$key").listFiles)
            .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
        }
      } catch { case NonFatal(e) => fail(index, key, e) }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = javaThreadCpu().map { case (id, t) => t - cpu0.getOrElse(id, 0L) }.sum / 1e9
    val passEnd = Clock.micros()
    trace.foreach { t =>
      sc.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      val rules1 = RuleExecutor.getCurrentMetrics()
      val graftRuleMs = (graftRuleNanos() - graftRules0) / 1e6
      // fence: a job of a known group; once its end arrives, so has every
      // event of this pass
      val fence = s"fence-$index"
      sc.setJobGroup(fence, fence)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      events.awaitGroup(fence)
      sc.removeSparkListener(events)
      s.listenerManager.unregister(planning)
      t.spans += Span(t.passSpanId, 0, "pass", s"pass $index", passStart, passEnd)
      val counts = t.joinSpark(events)
      val self = Spans.selfTimes(t.spans.toSeq)
      val byKind = t.spans.groupBy(_.kind)
      def sumDur(kind: String) = byKind.getOrElse(kind, Nil).map(_.dur).sum / 1e6
      def sumSelf(kind: String) = byKind.getOrElse(kind, Nil).map(sp => self(sp.id)).sum / 1e6
      val stageTotals = counts.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      val dRuns = rules1.numRuns - rules0.numRuns
      layerTotals += Map(
        "operators.build_s" -> sumDur("build"),
        "operators.action_s" -> sumDur("action"),
        "operators.build_self_s" -> sumSelf("build"),
        "operators.action_self_s" -> sumSelf("action"),
        "catalyst.analysis_ms" -> planning.ms("analysis"),
        "catalyst.optimization_ms" -> planning.ms("optimization"),
        "catalyst.planning_ms" -> planning.ms("planning"),
        "catalyst.rule_ms" -> (rules1.time - rules0.time) / 1e6,
        "catalyst.graft_rule_ms" -> graftRuleMs,
        "catalyst.rule_effective_ratio" ->
          (if (dRuns > 0) (rules1.numEffectiveRuns - rules0.numEffectiveRuns).toDouble / dRuns else 0.0),
        "codegen.compiles" -> compiles.toDouble,
        "codegen.compile_ms" -> compileMs,
        "scheduler.job_self_s" -> sumSelf("job"),
        "memo.cached_rdds" -> memoRdds,
        "memo.cached_bytes" -> memoBytes,
        "sink.files" -> sinkFiles,
        "trace.wall_s" -> wall
      ) ++ Layers.StageCounters.map(k => k -> stageTotals.getOrElse(k, 0.0))
      t.spans.filter(_.kind == "query").foreach { q =>
        val m = perQuery.getOrElseUpdate(q.name, mutable.Map.empty)
        val c = counts.getOrElse(q.id, Map.empty) ++ Map(
          "query_s" -> q.dur / 1e6,
          "build_s" -> t.spans.filter(sp => sp.parent == q.id && sp.kind == "build").map(_.dur).sum / 1e6)
        c.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      }
      allSpans ++= t.spans
      nextSpanId = t.newId()
    }
    PassRec(index, traced, wall, cpu, if (heap) oldGenMbAfterGc() else Double.NaN, lat.toSeq)
  }

  private val RuleLine = """^(graft\.\S+)\s+(\d+)\s*/\s*(\d+)\s+\d+\s*/\s*\d+\s*$""".r

  /** total time of the engine's own Catalyst rules, from the rule-executor
    * report (the only public per-rule view) */
  private def graftRuleNanos(): Long =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim).collect {
      case RuleLine(_, _, total) => total.toLong
    }.sum

  def run(): Unit = {
    val env = Map(
      "cores" -> o.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> base.version,
      "data" -> new File(o.data).getName,
      "seed" -> o.seed)
    val got = warmPass(base)
    val setupS = (Clock.micros() - o.startMicros) / 1e6
    o.fingerprintOut.foreach { f =>
      Files.writeString(Paths.get(f), o.keys.flatMap(k => got.get(k).map(fp => s"$k\t$fp\n")).mkString)
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(f + ".oracle.json"), Json.render(
        o.keys.flatMap(k => oracle.get(k).map(k -> _)).toMap))
      println(Json.render(Map("fingerprints" -> got.size, "failed" -> failures.size)))
      return
    }
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // a fixed number of whole passes in whole rotations (see run.py), so that
    // every run issues the same queries, each opening a session as often as
    // the others: a pass count that followed the clock would change the
    // latency sample, and with it the medians, from run to run. A pass does
    // not start after three times --seconds, so that a slow engine still
    // ends within the run's time limit.
    // Traced runs order passes untraced, traced, traced, untraced, ... so
    // that warm-up drift does not land on one side of the overhead.
    val cap = System.nanoTime() + 3L * o.seconds * 1000000000L
    while (passes.size < o.passes && (passes.size < 2 || System.nanoTime() < cap))
      passes += timedPass(passes.size + 1, traced = o.trace && Set(1, 2)(passes.size % 4),
        heap = passes.size + 1 == o.passes)

    val failed = failures.size
    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    // The host shares its CPUs, and a stretch of a few seconds in which it
    // runs other work can make a pass up to twice as long. The timings are
    // read from the faster half of the untraced passes, which leaves such
    // passes (and the first, least warmed-up ones) out.
    val kept = untraced.sortBy(_.wallS).take((untraced.size + 1) / 2)
    val lats = kept.flatMap(_.latencies.map(_._2)).sorted
    // latency quantiles are taken per pass, then their median over the kept
    // passes, so that one pass's host stretch does not shift the pooled order
    def latencyQuantile(q: Double) =
      Stats.median(kept.map(p => Stats.quantile(p.latencies.map(_._2), q)))
    val p90 = latencyQuantile(0.9)
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (Stats.median(kept.map(_.wallS)), "s"),
      "query_p50_s" -> (latencyQuantile(0.5), "s"),
      "query_p90_s" -> (p90, "s"),
      "cpu_s" -> (Stats.median(kept.map(_.cpuS)), "s"),
      // at the end of the last pass all of its session's memos are live: its
      // peak retained heap (measured once, as it barely varies)
      "peak_heap_mb" -> (passes.map(_.oldGenMb).find(!_.isNaN).getOrElse(oldGenMbAfterGc()), "MB"),
      "ok_frac" -> (1.0 - failed.toDouble / attempted, "frac"))
    val perLayer: Map[String, (Double, String)] =
      if (!o.trace) Map.empty
      else {
        val mean = layerTotals.flatMap(_.keys).distinct.map { k =>
          k -> layerTotals.map(_.getOrElse(k, 0.0)).sum / layerTotals.size
        }.toMap
        val overhead = Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS))
        (mean + ("trace.overhead_s" -> overhead)).map { case (k, v) => k -> (v, Layers.unit(k)) }
      }
    val metrics = if (o.trace) perLayer else endToEnd
    val samples = Map("latency_samples" -> lats.size,
      "beyond_p90" -> lats.count(_ > p90), "failed_frac" -> failed.toDouble / attempted)

    Files.createDirectories(Paths.get(s"${o.work}/results"))
    val tag = s"${o.workload}-${new File(o.data).getName}-s${o.seed}-t${if (o.trace) 1 else 0}"
    Files.writeString(Paths.get(s"${o.work}/results/$tag.json"), Json.render(Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "env" -> env,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> samples,
      "attempted" -> attempted, "failed" -> failed, "mismatches" -> mismatches,
      "failures" -> failures.map { case (p, k, e) => Map("pass" -> p, "key" -> k, "error" -> e) },
      "warm_latencies" -> warmLatencies.map { case (k, v) => Seq(k, v) },
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "old_gen_mb" -> p.oldGenMb,
        "kept" -> kept.exists(_.index == p.index),
        "latencies" -> p.latencies.map { case (k, v) => Seq(k, v) })),
      "per_query" -> perQuery.map { case (k, m) =>
        k -> m.map { case (n, v) => n -> v / math.max(traced.size, 1) }.toMap }.toMap)))
    if (o.trace)
      writeTrace(s"${o.work}/traces/$tag.json", env)

    System.err.println(s"[perfbench] ${o.workload} seed=${o.seed} env=$env " +
      s"passes=${passes.size} (traced ${traced.size}) attempted=$attempted failed=$failed " +
      s"failed_frac=${samples("failed_frac")} latency samples=${lats.size} beyond p90=${samples("beyond_p90")}")
    metrics.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      System.err.println(f"[perfbench]   $k%-32s $v%14.4f $u") }
    println(Json.render(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  private def writeTrace(path: String, env: Map[String, Any]): Unit = {
    val first = allSpans.filter(_.parent == 0)
    val root = Span(0, -1, "workload", o.workload,
      first.map(_.start).minOption.getOrElse(0L), first.map(_.end).maxOption.getOrElse(0L))
    val spans = root +: allSpans.toSeq
    val self = Spans.selfTimes(spans)
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json.render(Map("env" -> env, "spans" -> spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end, "self_us" -> self(s.id))))))
  }
}

object Layers {
  /** counters summed from the task metrics of each traced query's stages */
  val StageCounters: Seq[String] = Seq("scheduler.jobs", "scheduler.stages",
    "scheduler.tasks", "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes", "scan.input_bytes", "scan.input_records",
    "sink.output_bytes", "sink.output_records")

  def unit(metric: String): String = metric.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}

object Stats {
  /** linear-interpolation quantile of sorted-or-not values (NaN when empty) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
