package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.genomics.{Assembly, LocalAssembly, Reads}
import graft.ops.Staged
import org.apache.spark.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The JVM side of the benchmark. It runs one workload in one Spark
  * session: set-up (session start and a cold run of every step, which
  * stages every index into a fresh root), then the untimed checks
  * (written outputs for the oracle check, the reference engine), then
  * warm-up passes, then measured passes until `--seconds` have elapsed,
  * and writes raw timings, fingerprints, the entries' oracle SQL and
  * (with `--trace 1`) layer counters and spans as JSON for `run.py`,
  * which turns them into metrics.
  *
  * Usage: `perfbench.Main --workload <loops|assembly> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --out <dir> --cpus <n>
  * [--reads <tsv> --source <id> --dest <id> --golden <tsv>]`.
  */
object Main {
  /** `loops`: entries whose cost is jobs × a fixed per-job cost: the
    * graph walk (one eager job per round) and the paper's iterative
    * stitch fixpoint (one checkpoint per superstep).
    */
  val Loops = Seq("q189_graph_walk", "q74_stitch_iterative")

  /** Passes after set-up that are run but not measured. The first pass
    * after set-up still differs from the ones after it (on 4 cores,
    * assembly's ran about 15% slower). Measured passes are then at least
    * the third run of every step: the set-up ran each once, and for
    * `loops` the check ran each once more.
    */
  val WarmupPasses = 1

  /** Measured passes a run makes at the least, whatever `--seconds` is. */
  val MinMeasuredPasses = 3

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"--$k is required"))
    def get(k: String): Option[String] = m.get(k)
  }

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-insensitive fingerprint that consumes every output column:
    * row count plus the sums of both 32-bit halves of each row's
    * xxhash64 (32-bit halves keep the sums clear of overflow).
    */
  def fingerprint(df: DataFrame): String = {
    val h = df.select(xxhash64(col("*")).as("h"))
    val r = h.agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
      sum(col("h").bitwiseAND(0xffffffffL))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  /** Driver heap in use after a full GC, blocks in Spark's memory store
    * that the program still holds included.
    */
  private def heapLiveMb(spark: SparkSession): Double = {
    SparkInternals.fullGc(spark.sparkContext)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** A workload is an ordered list of steps; `step` runs one and returns
    * the fingerprint of what it produced.
    */
  trait Workload {
    def steps: Seq[String]
    /** The order of one pass; catalog entries are permuted by the seed. */
    def order(rnd: Random): Seq[String]
    def step(name: String): String
    /** Untimed checks after the cold run, whose fingerprints (or errors)
      * are `cold`. Returns each step's expected fingerprint, or the error
      * that makes it wrong.
      */
    def check(cold: Map[String, Either[String, String]]): Map[String, Either[String, String]]
    def extra(): Map[String, Double] = Map.empty
  }

  final class Catalog(spark: SparkSession, dir: String, out: String,
      val steps: Seq[String]) extends Workload {
    def order(rnd: Random): Seq[String] = rnd.shuffle(steps)

    def step(name: String): String = fingerprint(SparkEntry.queries(name)(spark, dir))

    /** Writes each output for the oracle check in `run.py`; what was
      * written must have the fingerprint of the cold run, and the timed
      * passes must reproduce it.
      */
    def check(cold: Map[String, Either[String, String]]): Map[String, Either[String, String]] =
      cold.map {
        case (name, Right(fp)) => name -> (try {
          val path = s"$out/verify/$name"
          SparkEntry.queries(name)(spark, dir).coalesce(1)
            .write.mode("overwrite").parquet(path)
          val written = fingerprint(spark.read.parquet(path))
          if (written == fp) Right(fp)
          else Left(s"written output $written differs from the cold run's $fp")
        } catch { case e: Throwable => Left(error(e)) })
        case failed => failed
      }

    def oracleSql: Map[String, String] =
      steps.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap
  }

  /** `AssemblyCli`'s Spark route, split into its four actions. */
  final class AssemblyRoute(spark: SparkSession, reads: String, source: Long,
      dest: Long, out: String) extends Workload {
    import spark.implicits._
    val steps = Seq("sink", "path", "fold", "contig")
    def order(rnd: Random): Seq[String] = steps
    private var assembled: DataFrame = _
    var contig: String = _
    private lazy val (vertices, edges) = Reads.loadGraphTsv(spark, reads)

    def step(name: String): String = name match {
      case "sink" =>
        val next = Assembly.bestSuccessor(vertices, edges)
        val flagged = Assembly.withValidFlag(next, edges, dest)
        Reads.bestPathProjection(flagged).write.mode("overwrite")
          .option("sep", "\t").csv(s"$out/asm.vertices")
        "written"
      case "path" =>
        assembled = Assembly.assembleFrom(vertices, edges, source)
        "assembled"
      case "fold" =>
        val row = assembled.collect().head
        contig = row.getString(2)
        s"${row.getInt(0)}:${row.getInt(1)}:${contig.hashCode}"
      case "contig" =>
        Seq(contig).toDF("contig").write.mode("overwrite").text(s"$out/asm.contig")
        "written"
    }

    private def local(): graft.functions.Span = {
      val (vs, es) = LocalAssembly.parse(reads)
      LocalAssembly.assembleFrom(vs, es, source, dest)
        .getOrElse(sys.error(s"source read $source is not in $reads"))
    }

    /** The Spark contig must equal `LocalAssembly`'s, character for
      * character; the timed passes must then reproduce its fingerprint.
      */
    def check(got: Map[String, Either[String, String]]): Map[String, Either[String, String]] = {
      val want = try Right(local()) catch { case e: Throwable => Left(error(e)) }
      (got("fold"), want) match {
        case (Right(fp), Right(span)) if contig != span.content =>
          got.updated("fold", Left(s"Spark contig $fp differs from LocalAssembly's " +
            s"${span.offset}:${span.length}:${span.content.hashCode}"))
        case (Right(_), Left(e)) => got.updated("fold", Left(s"LocalAssembly failed: $e"))
        case _ => got
      }
    }

    /** The local engine on the same file, a scan that consumes every
      * parsed column, and the size of the vertex sink.
      */
    override def extra(): Map[String, Double] = {
      val t0 = System.nanoTime()
      local()
      val t1 = System.nanoTime()
      fingerprint(vertices); fingerprint(edges)
      val t2 = System.nanoTime()
      Map("genomics.local_engine_s" -> (t1 - t0) / 1e9,
        "genomics.load_s" -> (t2 - t1) / 1e9,
        "genomics.sink_mb" -> diskMb(Paths.get(s"$out/asm.vertices")))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cpus = a("cpus").toInt
    Files.createDirectories(Paths.get(out))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = mutable.LinkedHashMap.empty[String, Any]

    val t0 = System.nanoTime()
    val spark = session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "loops" =>
        val c = new Catalog(spark, a("data"), out, Loops)
        result("oracle_sql") = c.oracleSql
        c
      case "assembly" => new AssemblyRoute(spark, a("reads"), a("source").toLong,
        a("dest").toLong, out)
      case other => sys.error(s"unknown workload $other")
    }
    val rnd = new Random(seed)
    Staged.stagingSecondsAndReset()
    val t1 = System.nanoTime()
    // set-up is the session and one cold run of every step, as in a pass
    val cold = w.order(rnd).map(s => s -> (try Right(w.step(s))
      catch { case e: Throwable => Left(error(e)) })).toMap
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9
    spark.catalog.clearCache()
    result("setup_s") = setupS
    result("session_s") = sessionS
    result("setup_staged_s") = Staged.stagingSecondsAndReset()
    val t2 = System.nanoTime()
    val checked = w.check(cold)
    result("check_s") = (System.nanoTime() - t2) / 1e9
    result("expected") = checked.map { case (k, v) => k -> v.fold(_ => null, identity) }
    result("errors") = checked.collect { case (k, Left(e)) => k -> e }
    a.get("data").foreach(d => result("stage_root") = graft.ops.Dedup.stageRoot(d))

    if (workload == "assembly") {
      // the reference's own 3-read sample must assemble to its golden contig
      val golden = new AssemblyRoute(spark, a("golden"), 33L, 38L, s"$out/golden")
      result("golden") = try { golden.steps.foreach(golden.step); golden.contig }
        catch { case e: Throwable => error(e) }
    }

    val trace = if (traced) Some(new Trace(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tm = System.nanoTime()
    var pass = 0
    var last = 0.0
    // the warm-up passes, then at least MinMeasuredPasses, so the median
    // is not a mean; another one only if it should end within `seconds`
    // of the first measured pass
    while (pass < WarmupPasses + MinMeasuredPasses ||
        (System.nanoTime() - tm) / 1e9 + last <= seconds) {
      if (pass == WarmupPasses) tm = System.nanoTime()
      val p0 = System.nanoTime()
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      pass += 1
      val measured = pass > WarmupPasses
      // a traced run traces every other measured pass, so the overhead of
      // tracing is measured inside one run
      val tracing = trace.filter(_ => measured && (pass - WarmupPasses) % 2 == 1)
      val order = w.order(rnd)
      tracing.foreach(_.attach(pass))
      val pass0 = System.currentTimeMillis()
      val entries = mutable.LinkedHashMap.empty[String, Any]
      Staged.stagingSecondsAndReset()
      order.foreach { name =>
        spark.sparkContext.setLocalProperty(Trace.EntryKey, name)
        val e0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val fp = try w.step(name) catch { case e: Throwable => "error " + error(e) }
        val dt = (System.nanoTime() - s0) / 1e9
        tracing.foreach(_.record(Span("entry", name, s"pass-$pass", pass, e0,
          System.currentTimeMillis())))
        entries(name) = Map("s" -> dt, "fp" -> fp)
        spark.sparkContext.setLocalProperty(Trace.EntryKey, null)
        spark.catalog.clearCache()
      }
      val stagedS = Staged.stagingSecondsAndReset()
      tracing.foreach(_.record(Span("pass", s"pass-$pass", null, pass, pass0,
        System.currentTimeMillis())))
      val layers = tracing.map(_.detach()).getOrElse(Map.empty)
      passes += Map("pass" -> pass, "measured" -> measured,
        "traced" -> tracing.isDefined, "order" -> order, "entries" -> entries,
        "staged_s" -> stagedS, "heap_live_mb" -> heapLiveMb(spark), "layers" -> layers,
        "jit_s" -> (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3)
      last = (System.nanoTime() - p0) / 1e9
    }
    result("passes") = passes
    trace.foreach { t =>
      result("spans") = t.allSpans.map(s => Map("kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass, "start" -> s.start, "end" -> s.end))
      result("extra") = w.extra() ++ Kernels.run(seed, 0.25)
      result("staged_disk_mb") = diskMb(Paths.get(sys.props("java.io.tmpdir"), "graft_staged"))
    }
    result("conf") = spark.conf.getAll.filter { case (k, _) =>
      Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.extensions", "spark.ui.enabled", "spark.driver.memory",
        "spark.sql.adaptive.enabled", "spark.sql.legacy.parquet.nanosAsLong")(k)
    } ++ Map("spark.version" -> spark.version,
      "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    spark.stop()
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result))
  }

  private def diskMb(root: Path): Double =
    if (!Files.exists(root)) 0.0
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      .map(Files.size).sum / 1e6
}
