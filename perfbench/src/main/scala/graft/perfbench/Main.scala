package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SessionMemo}

/** JVM side of the benchmark; `run.py` is the entry point. Commands:
  *
  *  - `prepare --seed-data D --out O --tpch-mult N` scales the TPC-H
  *    seed tables with graft.tools.ScaleGen and rewrites each input
  *    table with a fixed file layout and row order, so the parquet
  *    data pages are the same on every machine and every commit.
  *  - `run --workload W --inputs O --seed S --seconds T --trace 0|1
  *    --work DIR` sets up a session, runs a cold pass
  *    and warm passes, and prints one `PERFBENCH_ARTIFACT {json}` line
  *    with every timing and fingerprint; `run.py` checks them.
  *  - `dump --workload W --inputs O --out DIR` writes each query's
  *    result and its DuckDB oracle SQL under DIR, for oracle_check.py.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("prepare") => Prepare.run(opts)
      case Some("run") => new Runner(opts).run()
      case Some("dump") => Dump.run(opts)
      case _ =>
        System.err.println("usage: Main prepare|run|dump --key value ...")
        sys.exit(2)
    }
  }
}

/** One pass: every step's outcomes, and per step its traced layers and
  * the SessionMemo (builds, hits) it caused.
  */
final case class Pass(kind: String, outcomes: Seq[Outcome],
                      layers: Map[String, Layers], memo: Map[String, (Long, Long)])

final class Runner(opts: Map[String, String]) {
  private val workload = opts("workload")
  private val inputs = opts("inputs")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val trace = opts("trace") == "1"
  private val work = opts("work")
  // a zero-second run (smoke, references) makes one warm pass. A timed
  // run makes at least four: the first warm passes still run 10-40%
  // slower while the JIT settles, and a median of four leaves them out.
  // A traced run alternates untraced and traced passes, two of each.
  private val minWarm = if (seconds <= 0) 1 else if (trace) 2 else 4
  private val minTraced = if (trace) minWarm else 0
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val rng = new Random(seed)

  private def now(): Double = System.nanoTime() / 1e9

  private def session(): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session ready and inputs verified: row count and checksum of
    * schema and data pages of every input table (compared with the
    * manifest by run.py).
    */
  private def setup(): (SparkSession, Map[String, (Long, String)]) = {
    val s = session()
    val checks = Workloads.tables(workload).map { t =>
      val dir = s"$inputs/$t.parquet"
      val df = s.read.parquet(dir)
      t -> (df.count(), Disk.sha256(Paths.get(dir), df.schema.json))
    }.toMap
    (s, checks)
  }

  def run(): Unit = {
    val (spark, inputChecks) = setup()
    // set-up counts from process start: JVM start, class loading, the
    // first SparkContext and GraftExtensions are part of it
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // the IO sources are cached and fingerprinted outside every timer
    val sources: Map[String, DataFrame] =
      if (workload == "tables") Workloads.ioSources(spark, inputs) else Map.empty
    val sourceFps = sources.map { case (t, df) => t -> Fingerprint.ofTable(df, df.schema) }

    val steps = workload match {
      case "tables" => Workloads.querySteps(spark, inputs, Workloads.tpchQueries) ++
        Workloads.ioSteps(spark, sources, s"$work/io")
      case "corpus" => Workloads.querySteps(spark, inputs, Workloads.corpusQueries)
    }
    val tracer = new Tracer(spark)

    def pass(kind: String, traced: Boolean): Pass = {
      if (traced) tracer.start()
      val layers = mutable.LinkedHashMap.empty[String, Layers]
      val memo = mutable.LinkedHashMap.empty[String, (Long, Long)]
      val outs = rng.shuffle(steps).flatMap { st =>
        val (h0, b0) = SessionMemo.counters
        val o = try st.run() catch {
          case e: Exception => Seq(Outcome(st.name, "error", 0.0, 0.0, -1L, e.toString.take(300)))
        }
        val (h1, b1) = SessionMemo.counters
        memo(st.name) = (b1 - b0, h1 - h0)
        if (traced) layers(st.name) = tracer.take()
        o
      }
      if (traced) tracer.stop()
      Pass(kind, outs, layers.toMap, memo.toMap)
    }

    val passes = mutable.ArrayBuffer(pass("cold", trace))
    val warmStart = now()
    // the traced run interleaves untraced and traced warm passes in the
    // order U T T U U T T U ..., so it measures its own overhead without
    // the warm-up of the first passes favouring either side
    def enough = {
      val untraced = passes.count(_.kind == "warm")
      val traced = passes.count(_.kind == "warm_traced")
      now() - warmStart >= seconds && untraced >= minWarm && traced >= minTraced &&
        (!trace || untraced == traced)
    }
    while (!enough) {
      val tracedNext = trace && Set(1, 2).contains((passes.size - 1) % 4)
      passes += pass(if (tracedNext) "warm_traced" else "warm", tracedNext)
    }
    val kernels = if (trace) Kernels.run(spark, inputs) else Map.empty[String, Double]
    sources.values.foreach(_.unpersist())
    spark.stop()

    println("PERFBENCH_ARTIFACT " + Json(report(passes.toSeq, setupS, inputChecks,
      sourceFps, kernels)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def report(passes: Seq[Pass], setupS: Double,
                     inputChecks: Map[String, (Long, String)],
                     sourceFps: Map[String, (Long, String)],
                     kernels: Map[String, Double]): Map[String, Any] = {
    val cold = passes.head
    val warm = passes.filter(_.kind == "warm")
    val ops = cold.outcomes.map(_.op).sorted
    def warmMedian(op: String, from: Seq[Pass] = warm): Double =
      median(from.flatMap(_.outcomes.filter(_.op == op).map(_.seconds)))
    val coldOf = cold.outcomes.map(o => o.op -> o).toMap

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("cold_pass_s") = (cold.outcomes.map(_.seconds).sum, "s")
      metrics("warm_pass_s") = (ops.map(warmMedian(_)).sum, "s")
    } else {
      val traced = passes.filter(_.kind == "warm_traced")
      // per-layer figures of a warm pass: each counter summed over the
      // pass's steps, then the median over the traced warm passes
      val perPass = traced.map { p =>
        val l = new Layers
        p.layers.values.foreach(l ++= _)
        l.v.map { case (k, x) => k.stripPrefix("max.") -> x }.toMap
      }
      Layer.names.foreach { n =>
        metrics(n) = (median(perPass.map(_.getOrElse(n, 0.0))), Layer.unit(n))
      }
      metrics("registry.build_s") = (cold.outcomes.map(_.buildS).sum, "s")
      val io = (kind: String, c: String) =>
        ops.filter(o => o.startsWith(s"$kind.") && o.endsWith(s".$c")).map(warmMedian(_)).sum
      val stored = (c: String) =>
        cold.outcomes.filter(o => o.kind == "write" && o.op.endsWith(s".$c")).map(_.storedBytes).sum / 1e6
      Workloads.containers.foreach { c =>
        metrics(s"io.$c.write_s") = (io("write", c), "s")
        metrics(s"io.$c.read_s") = (io("read", c), "s")
        metrics(s"io.$c.stored_mb") = (stored(c), "MB")
      }
      metrics("io.write_s") = (Workloads.containers.map(io("write", _)).sum, "s")
      metrics("io.read_s") = (Workloads.containers.map(io("read", _)).sum, "s")
      metrics("io.stored_mb") = (Workloads.containers.map(stored).sum, "MB")
      kernels.foreach { case (k, x) => metrics(k) = (x, "s") }
      val built = cold.memo.filter(_._2._1 > 0).keys.toSeq.filter(coldOf.contains)
      metrics("memo.builds") = (cold.memo.values.map(_._1).sum.toDouble, "count")
      metrics("memo.hits") = (median(traced.map(_.memo.values.map(_._2).sum.toDouble)), "count")
      // a build is charged to the step that ran it first: its cold time
      // above its own warm median
      metrics("memo.build_s") = (built.map(op => coldOf(op).seconds - warmMedian(op)).sum, "s")
      val warmTraced = ops.map(warmMedian(_, traced)).sum
      val warmPlain = ops.map(warmMedian(_)).sum
      metrics("trace.warm_pass_s") = (warmTraced, "s")
      metrics("trace.overhead_s") = (warmTraced - warmPlain, "s")
    }

    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "setup_s" -> setupS,
      "inputs" -> inputChecks.map { case (t, (n, sha)) => t -> Map("rows" -> n, "sha256" -> sha) },
      "sources" -> sourceFps.map { case (t, (n, fp)) => t -> Map("rows" -> n, "fp" -> fp) },
      "outcomes" -> passes.map(p => Map("kind" -> p.kind, "steps" -> p.outcomes.map(o =>
        Map("op" -> o.op, "kind" -> o.kind, "rows" -> o.rows, "fp" -> o.fp)))),
      "per_op" -> ops.map(op => op -> Map(
        "cold_s" -> coldOf(op).seconds, "warm_median_s" -> warmMedian(op),
        "warm_s" -> warm.flatMap(_.outcomes.filter(_.op == op).map(_.seconds)),
        "build_s" -> coldOf(op).buildS, "memo_builds" -> cold.memo.get(op).map(_._1).getOrElse(0L))).toMap,
      "passes_s" -> passes.map(p => Map("kind" -> p.kind, "seconds" -> p.outcomes.map(_.seconds).sum)),
      "traced_layers" -> passes.filter(_.layers.nonEmpty).map(p => Map("kind" -> p.kind,
        "steps" -> p.layers.map { case (st, l) => st -> l.v.toMap })))
  }
}

/** Names and units of the per-layer metrics. */
object Layer {
  val names: Seq[String] = Seq(
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.scans", "plan.exchanges", "plan.reused_exchanges", "plan.bhj", "plan.smj",
    "plan.bnlj", "plan.unpartitioned_windows",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.max_task_ratio", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.shuffle_records", "exec.spill_mb", "exec.peak_exec_mem_mb",
    "scan.input_mb", "scan.input_rows")

  def unit(n: String): String =
    if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_ratio")) "ratio" else "count"
}

/** Minimal JSON writer for the artifact line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Dump {
  def run(opts: Map[String, String]): Unit = {
    val spark = GraftSession.builder("perfbench-dump").master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = opts("workload") match {
      case "tables" => Workloads.tpchQueries
      case "corpus" => Workloads.corpusQueries
    }
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, opts("inputs")).write.mode("overwrite")
        .parquet(s"${opts("out")}/$n")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out"), "oracle_sql.json"), Json(oracle))
    spark.stop()
  }
}
