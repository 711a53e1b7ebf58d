package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.etl.Parse
import graft.pipeline.{BankingPipeline, EtlConfig, RunBankingEtl}
import graft.schema.Thresholds

/** Runs one benchmark workload in this JVM and writes what it measured as
  * one JSON object to `--result`. The product is driven only through its
  * public entry points; every span is taken here, around those calls.
  *
  * Usage: Harness --workload etl_dirty|catalog_ops
  *   --input <csv file or table dir> --work <dir> --result <file>
  *   --seconds <n> --trace 0|1 --cores <n> --setups <n> --settle <n>
  *   --queries <comma-separated catalog query prefixes>
  */
object Harness {

  val MinUnits = 3

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall, process CPU, GC and JIT seconds used by one span. */
  final case class Cost(wall: Double, cpu: Double, gc: Double, jit: Double) {
    def toMap: Map[String, Any] =
      Map("wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc, "jit_s" -> jit)
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def timed[T](body: => T): (T, Cost) = {
    val (w0, c0, g0, j0) = (System.nanoTime, os.getProcessCpuTime, gcMs, jitMs)
    val out = body
    (out, Cost((System.nanoTime - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9,
      (gcMs - g0) / 1e3, (jitMs - j0) / 1e3))
  }

  /** Job, task and I/O counters from the listener bus. */
  final class Meter extends SparkListener {
    private val counts = Seq("jobs", "tasks", "input_bytes",
      "shuffle_read_bytes", "shuffle_write_bytes", "job_ms")
      .map(_ -> new AtomicLong).toMap
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    private def add(k: String, v: Long): Unit = counts(k).addAndGet(v)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => add("job_ms", e.time - t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot(spark: SparkSession): Map[String, Long] = {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      counts.map { case (k, v) => k -> v.get }
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A fresh output location per run: the sinks append, so a reused path
    * would silently hold two runs.
    */
  private def freshDir(path: String): String = {
    require(!new File(path).exists, s"output location $path already exists")
    path
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    val settle = opt("settle").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val run: Workload = workload match {
      case "etl_dirty" => new EtlWorkload(input, work)
      case "catalog_ops" =>
        new CatalogWorkload(input, work, opt("queries").split(",").toSeq)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up: a session plus one warm-up unit, repeated; the last session
    // stays for the measurement. The first set-up also pays JVM start.
    var spark: SparkSession = null
    val setupS = (0 until setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i > 0) System.nanoTime
        else System.nanoTime - (System.currentTimeMillis - jvmStartMs) * 1000000L
      spark = session(cores, work)
      run.warmUp(spark, i)
      (System.nanoTime - t0) / 1e9
    }
    // Untimed warm-up units in the measured session: JIT work per unit still
    // falls over a session's first units, and the timed units should not
    // carry that fall.
    (setups until setups + settle).foreach(run.warmUp(spark, _))

    // At least MinUnits, so a median never rests on the first timed unit,
    // which still pays JIT work the later ones do not.
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    val units = Seq.newBuilder[Map[String, Any]]
    var i = 0
    while (i < MinUnits || System.nanoTime < deadline) {
      units += (if (trace) run.tracedUnit(spark, i) else run.unit(spark, i))
      i += 1
    }

    val result = Map(
      "setup_s" -> setupS,
      "units" -> units.result(),
      "context" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "cores" -> cores)) ++ run.extra
    spark.stop()
    Files.write(new File(opt("result")).toPath,
      Json(result).getBytes(StandardCharsets.UTF_8))
  }

  trait Workload {
    def warmUp(spark: SparkSession, setup: Int): Unit
    def unit(spark: SparkSession, i: Int): Map[String, Any]
    def tracedUnit(spark: SparkSession, i: Int): Map[String, Any]
    def extra: Map[String, Any] = Map.empty
  }

  /** etl_dirty: one unit is one `RunBankingEtl.run` of the
    * input file into two fresh parquet tables.
    */
  final class EtlWorkload(input: String, work: String) extends Workload {
    private def runEtl(spark: SparkSession, out: String): Unit =
      RunBankingEtl.run(spark, EtlConfig(input,
        freshDir(s"$out/processed"), freshDir(s"$out/errors")))

    def warmUp(spark: SparkSession, setup: Int): Unit =
      runEtl(spark, s"$work/out/warm$setup")

    def unit(spark: SparkSession, i: Int): Map[String, Any] = {
      val out = s"$work/out/unit$i"
      val (_, cost) = timed(runEtl(spark, out))
      cost.toMap + ("output" -> out)
    }

    private lazy val meter = new Meter

    /** The pipeline cut after each layer and sent to the noop sink, then
      * the whole run with and without the listener. Differencing the
      * prefix walls gives each layer's self time.
      */
    def tracedUnit(spark: SparkSession, i: Int): Map[String, Any] = {
      val sc = spark.sparkContext
      def lines = BankingPipeline.readCsvLines(spark, input)
      def span(body: => Unit): Map[String, Any] = {
        val before = meter.snapshot(spark)
        val (_, cost) = timed(body)
        val after = meter.snapshot(spark)
        cost.toMap ++ after.map { case (k, v) => k -> (v - before(k)) }
      }
      sc.addSparkListener(meter)
      var build, physical = 0.0
      val prefixes = Seq(
        "read" -> span(noop(lines)),
        "parse" -> span(noop(Parse(lines))),
        "stages" -> span(noop(BankingPipeline.stagesAfterParse(Parse(lines),
          Thresholds.MinValidAge, Thresholds.MaxValidAge))),
        "split" -> span {
          val l = lines
          val (res, b) = timed(BankingPipeline.fromLines(l))
          val (_, p) = timed {
            res.processed.queryExecution.executedPlan
            res.errors.queryExecution.executedPlan
          }
          build = b.wall
          physical = p.wall
          noop(res.processed)
          noop(res.errors)
        },
        "full" -> span(runEtl(spark, s"$work/out/unit$i")))
      sc.removeSparkListener(meter)
      val (_, untraced) = timed(runEtl(spark, s"$work/out/unit${i}u"))
      prefixes.toMap ++ Map(
        "full_untraced" -> untraced.toMap,
        "build_s" -> build, "physical_s" -> physical,
        "outputs" -> Seq(s"$work/out/unit$i", s"$work/out/unit${i}u"))
    }
  }

  /** catalog_ops: one unit is one round of the ETL-operator catalog
    * queries, each built fresh from `SparkEntry.queries`, then collected.
    * Every round's rows must equal the first warm-up round's, which are
    * dumped for the DuckDB oracle check.
    */
  final class CatalogWorkload(dir: String, work: String, prefixes: Seq[String])
      extends Workload {
    private val fns = SparkEntry.queries
    private val names = prefixes.map(p =>
      fns.keys.filter(_.startsWith(p + "_")).toSeq match {
        case Seq(n) => n
        case found => sys.error(s"catalog query $p matched ${found.mkString(",")}")
      })
    private var reference: Map[String, Seq[Row]] = Map.empty
    private var mismatched = 0

    private def check(name: String, rows: Seq[Row]): Boolean =
      reference.get(name).forall(_ == rows)

    def warmUp(spark: SparkSession, setup: Int): Unit = {
      val rows = names.map { n =>
        val df = fns(n)(spark, dir)
        val r = df.collect().toSeq
        if (setup == 0) {
          spark.createDataFrame(r.asJava, df.schema).coalesce(1)
            .write.parquet(freshDir(s"$work/oracle/$n"))
          reference += n -> r
        } else if (!check(n, r)) mismatched += 1
        n
      }
      if (setup == 0) {
        val sql = SparkEntry.oracleSql
        Files.write(new File(s"$work/oracle/oracle_sql.json").toPath,
          Json(rows.map(n => n -> sql(n)).toMap)
            .getBytes(StandardCharsets.UTF_8))
      }
    }

    def unit(spark: SparkSession, i: Int): Map[String, Any] = {
      var ok = true
      val (lat, cost) = timed(names.map { n =>
        val (rows, c) = timed(fns(n)(spark, dir).collect().toSeq)
        ok &= check(n, rows)
        n -> c.wall * 1e3
      })
      cost.toMap ++ Map("query_ms" -> lat.toMap, "rows_match" -> ok)
    }

    private lazy val meter = new Meter

    /** One round with construction, physical planning and execution timed
      * apart under the listener, then one untraced round.
      */
    def tracedUnit(spark: SparkSession, i: Int): Map[String, Any] = {
      val sc = spark.sparkContext
      sc.addSparkListener(meter)
      val before = meter.snapshot(spark)
      var ok = true
      val (phases, cost) = timed(names.map { n =>
        val (df, build) = timed(fns(n)(spark, dir))
        val (_, plan) = timed(df.queryExecution.executedPlan)
        val (rows, exec) = timed(df.collect().toSeq)
        ok &= check(n, rows)
        n -> Map("build_ms" -> build.wall * 1e3, "plan_ms" -> plan.wall * 1e3,
          "exec_ms" -> exec.wall * 1e3)
      })
      val after = meter.snapshot(spark)
      sc.removeSparkListener(meter)
      val untraced = unit(spark, i)
      cost.toMap ++ after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
        "phases" -> phases.toMap,
        "rows_match" -> (ok && untraced("rows_match") == true),
        "full_untraced" -> (untraced - "query_ms"))
    }

    override def extra: Map[String, Any] =
      Map("queries" -> names, "warmup_mismatches" -> mismatched)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
