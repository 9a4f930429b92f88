package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** What the measurement mains share: starting a session, wall-clock
  * timing and the host context their JSON lines record.
  */
private[graft] object Measure {

  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `f`'s value and the seconds spent evaluating it. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def time(f: => Any): Double = timed(f)._2

  /** `f`'s value and the number of classes Spark's code generator
    * compiled (generated-class cache misses, JVM-wide) while it ran.
    */
  def compiled[A](f: => A): (A, Long) = {
    def count = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = count
    val a = f
    (a, count - c0)
  }

  def times(reps: Int)(f: => Any): Seq[Double] = (1 to reps).map(_ => time(f))

  /** Upper median. */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def r3(x: Double): Double = (x * 1000).round / 1000.0

  /** OS load (1/5/15-minute averages), so a run on a busy host can be
    * told apart from a plan regression.
    */
  def loadavg: String = scala.util.Try(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(",")).getOrElse("")

  /** One JSON object line. An Option is its value or null, a Double is
    * rounded to 3 places (null when not finite), a String is quoted.
    */
  def json(fields: Seq[(String, Any)]): String = {
    def value(v: Any): String = v match {
      case None | null => "null"
      case Some(x) => value(x)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else r3(d).toString
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case x => x.toString
    }
    fields.map { case (k, v) => s"\"$k\":${value(v)}" }.mkString("{", ",", "}")
  }

  /** Best-effort page-cache drop; true when the kernel accepted it. */
  def dropPageCache(): Boolean = {
    import scala.sys.process._
    Seq("sh", "-c", "sync && echo 3 > /proc/sys/vm/drop_caches").! == 0
  }
}
