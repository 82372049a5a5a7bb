package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** The graded session configuration (the one graft's own Bench uses), with
  * Spark's scratch space kept inside the benchmark's work directory.
  */
object Session {
  def graded(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The action the suite and the pipelines time on a returned DataFrame: one
  * job that yields the row count and an order-insensitive content hash (the
  * sum of per-row xxhash64 values). Floating-point columns are hashed as
  * their 10-significant-digit rendering, so summation order cannot move
  * the hash. Every output column is evaluated, as a consumer would.
  */
object Digest {
  def of(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.10g", col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  def run(ds: DataFrame): (Long, String) = {
    val r = ds.collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
  }
}

object Stats {
  /** Linear-interpolation quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this JVM in MB (VmHWM), or -1 when unreadable. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}

/** CPU time of this JVM's own work: the process's CPU time less that of its
  * JIT compiler threads (`run.py` starts the JVM with a fixed set of them).
  * On a Linux guest with steal-time accounting it excludes the time the
  * host steals from the VM, and it excludes the time threads wait for a
  * processor, so it moves with the work the program does more than with
  * what else runs on the host. It includes GC.
  */
object Cpu {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))).trim
    catch { case scala.util.control.NonFatal(_) => "" }
  private lazy val compilerTasks: Seq[String] =
    Option(new java.io.File("/proc/self/task").list()).toSeq.flatten.filter { t =>
      val comm = read(s"/proc/self/task/$t/comm")
      comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
    }
  /** nanoseconds the compiler threads have run, from their schedstat */
  private def compilerNs(): Long =
    compilerTasks.map(t => read(s"/proc/self/task/$t/schedstat").split(" ")(0))
      .filter(_.nonEmpty).map(_.toLong).sum

  def appNs(): Long = osBean.getProcessCpuTime - compilerNs()
  def compilerThreads: Int = compilerTasks.size
}

/** Minimal JSON rendering for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
