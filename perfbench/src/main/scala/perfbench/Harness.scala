package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One call into the program. `run` performs it, forces its result
  * with an action and returns `None` when the output check passed, or
  * the reason it did not. */
final case class Call(name: String, module: String, run: () => Option[String])

/** A workload: set-up that stages its inputs, and the calls of one pass. */
trait Workload {
  def stage(): Unit
  def calls(pass: Int): Seq[Call]
  /** Bytes of input the workload's program calls read. */
  def inputBytes: Long
  /** Extra traced calls run once after the traced passes (may be empty). */
  def stepCalls: Seq[Call] = Nil
  /** Counters the workload keeps itself, read after the traced passes. */
  def counters: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Runs one workload in this JVM and writes its raw timings, check
  * results and (when traced) trace record as JSON for `run.py`.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --warm N
  * --passes N --root DIR --work DIR --result FILE --trace-file FILE
  * [--datagen-s X]`. Set-up is the session, staging and `--warm`
  * untimed passes (the first builds whatever indexes the calls persist);
  * then at least `--passes` timed passes run, and more while fewer than
  * `--seconds` have gone by.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val root = new File(opt("root")).getAbsoluteFile
    val work = new File(opt("work")).getAbsoluteFile

    val table = KeyTable.load(new File(root, "perfbench/keys.tsv"))
    val drift = KeyTable.drift(table, graft.SparkEntry.queries.keySet)
    if (drift.nonEmpty) {
      System.err.println("perfbench/keys.tsv does not match SparkEntry.queries:")
      drift.foreach(d => System.err.println("  " + d))
      sys.exit(3)
    }

    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, workloadName)
    def make(name: String): Workload = name match {
      case "etl_pipeline" => new EtlWorkload(spark, new File(work, "etl"), nproc)
      case w @ ("index_lifecycle" | "serve_mix") =>
        new KeysWorkload(spark, w, table, new File(root, "perfbench/data/sf0.001"),
          new File(work, w), seed)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    if (workloadName == "class-archive") {
      // one pass of etl_pipeline and the first call of the other two, so
      // the JVM that records the build's class-data archive loads the
      // Spark, JDBC and HTTP classes every run loads
      Seq("etl_pipeline" -> 2, "index_lifecycle" -> 1, "serve_mix" -> 1).foreach { case (w, n) =>
        val wl = make(w)
        wl.stage()
        wl.calls(0).take(n).foreach(_.run().foreach(why => sys.error(s"$w: $why")))
        wl.close()
      }
      spark.stop()
      return
    }
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val warmPasses = opt("warm").toInt
    val minPasses = opt("passes").toInt
    val workload = make(workloadName)

    var attempted, failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val samples = mutable.ArrayBuffer.empty[(String, String, Double, String)]

    def runCall(c: Call, parent: Int, iter: Int, timed: Boolean): Unit = {
      val t = System.nanoTime()
      val outcome = tracer.span(c.name, "call", parent, iter) { _ =>
        Try(c.run()) match {
          case Success(None) => None
          case Success(Some(why)) => Some(why)
          case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      val dt = (System.nanoTime() - t) / 1e9
      attempted += 1
      outcome.foreach { why => failed += 1; if (errors.size < 20) errors += s"${c.name}: $why" }
      samples += ((c.name, c.module, dt, if (!timed) "setup" else if (tracer.isAttached) "traced" else "timed"))
    }
    def runPass(iter: Int, timed: Boolean): Double = {
      val t = System.nanoTime()
      tracer.span(s"pass $iter", "pass", -1, iter) { id =>
        workload.calls(iter).foreach(c => runCall(c, id, iter, timed))
      }
      (System.nanoTime() - t) / 1e9
    }

    // set-up: inputs, then untimed passes; the first builds every index
    // the program persists per input path, the rest warm JIT and code
    // generation for the calls the timed passes make
    workload.stage()
    val warmS = (1 to warmPasses).map(k => runPass(-k, timed = false))
    val firstTimedMs = System.currentTimeMillis()

    // timed window: a fixed number of passes, and more only while the
    // window is not over; a traced run makes half of them untraced and
    // half traced, so the difference between the halves is the tracing
    // overhead
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var iter = 0
    def window(secs: Double, atLeast: Int): Unit = {
      val end = System.nanoTime() + (secs * 1e9).toLong
      val stop = iter + atLeast
      while (iter < stop || System.nanoTime() < end) {
        passes += ((runPass(iter, timed = true), tracer.isAttached)); iter += 1
      }
    }
    val half = math.max(1, (minPasses + 1) / 2)
    var passCounters = Map.empty[String, Double]
    if (traced) {
      window(seconds / 2, half)
      val before = workload.counters
      tracer.attach()
      window(seconds / 2, half)
      workload.counters.foreach { case (k, v) => tracer.add(k, v - before.getOrElse(k, 0.0)) }
      tracer.add("layout.stored_bytes", dirBytes(new File(work, "warehouse")))
      passCounters = tracer.counters.toMap
      val steps = workload.stepCalls
      if (steps.nonEmpty) tracer.span("steps", "pass", -1, iter) { id =>
        steps.foreach(c => runCall(c, id, iter, timed = false))
      }
    } else window(seconds, minPasses)

    workload.close()
    spark.stop()

    val rssMb = peakRssMb()
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val result = Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "session_s" -> Json.num(sessionS),
      "datagen_s" -> Json.num(opt.get("datagen-s").map(_.toDouble).getOrElse(0.0)),
      "warm_s" -> arr(warmS),
      "first_timed_ms" -> firstTimedMs.toString,
      "passes" -> passes.map { case (w, tr) => s"""{"wall":${Json.num(w)},"traced":$tr}""" }
        .mkString("[", ",", "]"),
      "calls" -> samples.map { case (n, m, dt, phase) =>
        s"""{"name":${Json.str(n)},"module":${Json.str(m)},"s":${Json.num(dt)},"phase":"$phase"}"""
      }.mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "input_bytes" -> workload.inputBytes.toString,
      "peak_rss_mb" -> Json.num(rssMb))
    Files.write(Paths.get(opt("result")),
      result.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    if (traced)
      Files.write(Paths.get(opt("trace-file")),
        tracer.toJson(Seq("workload" -> Json.str(workloadName), "seed" -> seed.toString),
          passCounters)
          .getBytes("UTF-8"))
  }

  def dirBytes(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length.toDouble else 0.0

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** A row of `perfbench/keys.tsv`. */
final case class KeyRow(key: String, workload: String, module: String,
                        inPass: Boolean, rows: Long)

object KeyTable {
  def load(f: File): Seq[KeyRow] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.startsWith("key\t") || l.trim.isEmpty)
      .map(_.split("\t")).map { c =>
        KeyRow(c(0), c(1), c(2), c(3) == "1", c(4).toLong)
      }.toSeq

  /** Keys added to or removed from the program since the table was
    * written, one line each. */
  def drift(table: Seq[KeyRow], keys: Set[String]): Seq[String] = {
    val mine = table.map(_.key).toSet
    (keys -- mine).toSeq.sorted.map(k => s"added in SparkEntry.queries, missing here: $k") ++
      (mine -- keys).toSeq.sorted.map(k => s"removed from SparkEntry.queries: $k")
  }
}

/** `index_lifecycle` and `serve_mix`: the keys of one workload whose
  * `in_pass` flag is set, called in a seed-permuted order each pass,
  * each checked against its oracle row count. The parquet tables are
  * staged at a fresh path, so indexes the program persists per input
  * path are built in the first untimed pass. */
final class KeysWorkload(spark: SparkSession, name: String, table: Seq[KeyRow],
                         source: File, stageRoot: File, seed: Long) extends Workload {
  private val pass = table.filter(r => r.workload == name && r.inPass)
  private val dir = new File(stageRoot, "input")
  private val files = Option(source.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  def inputBytes: Long = files.map(_.length).sum

  def stage(): Unit = {
    dir.mkdirs()
    files.foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))
  }

  def calls(iter: Int): Seq[Call] = {
    val order = new scala.util.Random(seed * 1000003L + iter).shuffle(pass)
    val fns = graft.SparkEntry.queries
    order.map { r =>
      Call(r.key, r.module, () => {
        val n = fns(r.key)(spark, dir.getPath).count()
        if (n == r.rows) None else Some(s"count $n, oracle ${r.rows}")
      })
    }
  }
}
