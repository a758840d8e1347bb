package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

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
  def arr(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")
}

/** The benchmark's JVM side: one closed-loop client on a `local[4]` session.
  *
  *   --workload interactive|analytic|pipelines  --data DIR  --out DIR
  *   --seconds S  --trace 0|1  --seed N
  *
  * Order of work: one untimed check pass (the cold pass: it pays JIT,
  * codegen and the first table resolution), set-up three times (new session,
  * tune, empty warehouse, construct of every op), then `seconds` worth of
  * whole timed passes. Writes `<out>/result.json` (and
  * `<out>/spans.json` when traced) for run.py, which checks the outputs and
  * prints the metrics.
  */
object Main {
  val SetupReps = 3
  val Cpus = 4
  /** Timed passes per 10 s of `--seconds`, per workload (a pass takes about
    * 5 s interactive, 8 s analytic, 15 s pipelines on 4 cores). */
  val passesPer10s = Map("interactive" -> 3, "analytic" -> 2, "pipelines" -> 1)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    try run(workload, data, out, seconds, traced, seed)
    catch {
      case e: VirtualMachineError =>
        System.err.println(s"[graftbench] fatal ${e.getClass.getName}: ${e.getMessage}")
        Runtime.getRuntime.halt(3)
    }
  }

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(workload: String, data: String, out: String, seconds: Double, traced: Boolean,
          seed: Long): Unit = {
    Files.createDirectories(Paths.get(out))
    val root = session()
    val tracer = new Tracer(root.sparkContext, traced)
    val pipelines =
      if (workload == "pipelines") Some(new Pipelines(data, out, seed % 1250, viewerRounds = 8))
      else None
    val ops: Seq[Op] = workload match {
      case "interactive" => Queries.ops(Queries.interactive, data, out)
      case "analytic" => Queries.ops(Queries.analytic, data, out)
      case "pipelines" => pipelines.get.ops
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val distinctOps = ops.distinctBy(_.name)

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def attempt[T](phase: String, op: Op)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
          failures += s"""{"op":${Json.str(op.name)},"phase":"$phase","error":${Json.str(e.getClass.getName)},"message":${Json.str(msg.take(300))}}"""
          None
      }
    }

    // untimed check pass, first: every op once, cold (JIT, codegen, table
    // resolution and Warehouse builds are paid here), results recorded for
    // run.py
    val c0 = System.nanoTime()
    var spark: SparkSession = SparkEntry.tune(root)
    spark.conf.set("spark.graft.warehouseDir", s"$out/warehouse-cold")
    tracer("check", "check") {
      distinctOps.foreach { op =>
        tracer(op.name, "check-op")(attempt("check", op)(op.check(spark)))
        release(spark)
      }
    }
    val coldS = (System.nanoTime() - c0) / 1e9
    if (workload != "pipelines")
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        Queries.oracleJson(distinctOps.map(_.name)))

    // set-up, repeated: a new session, tuned, with an empty warehouse, then
    // the construct of every op (table resolution, Warehouse builds, plan
    // construction); the last one serves the timed passes
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer(s"setup-$rep", "setup") {
        spark = SparkEntry.tune(root.newSession())
        spark.conf.set("spark.graft.warehouseDir", s"$out/warehouse-$rep")
        distinctOps.foreach(op => tracer(op.name, "construct") {
          attempt("setup", op)(op.build(spark))
        })
      }
      (System.nanoTime() - t0) / 1e9
    }
    println(s"[graftbench] cold pass $coldS s, setup ${setupS.mkString(" ")} s")

    // timed passes: construct + full-result execution, one op after another
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passS = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    // the window is a whole number of passes, so every run of a workload
    // measures the same sequence of operations
    val passes = math.max(1, math.round(seconds / 10.0 * passesPer10s(workload)).toInt)
    pipelines.foreach { p => p.fetchedDocs = 0; p.viewerReads = 0 }
    while (passS.size < passes) {
      val p0 = System.nanoTime()
      tracer(s"pass-${passS.size}", "pass") {
        passSpans ++= tracer.spans.lastOption.filter(_.kind == "pass")
        ops.foreach { op =>
          val t0 = System.nanoTime()
          val ok = tracer(op.name, "op") {
            attempt("timed", op) {
              val exec = tracer("construct", "construct")(op.build(spark))
              tracer("exec", "exec")(exec())
            }
          }
          val ms = (System.nanoTime() - t0) / 1e6
          release(spark)
          if (ok.isDefined) samples.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += ms
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    println(s"[graftbench] passes ${passS.mkString(" ")} s")
    tracer.finish()

    val modules = distinctOps.map(o => s"${Json.str(o.name)}:${Json.str(o.module)}")
    val sampleJson = samples.map { case (k, v) => s"${Json.str(k)}:${Json.arr(v)}" }
    val config = Seq(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "advisory_partition_bytes" -> spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark_version" -> spark.version,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    val layers = if (traced) Layers.compute(tracer, passSpans.toSeq, pipelines, Cpus) else Map.empty[String, Double]
    val layerJson = layers.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }
    val pipeJson = pipelines.map(p =>
      s""","pipeline":${p.observedJson},"fetched_docs":${p.fetchedDocs},"viewer_doc_reads":${p.viewerReads}""")
      .getOrElse("")
    val result =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,
         |"config":{${config.mkString(",")}},
         |"setup_s":${Json.arr(setupS)},"cold_pass_s":$coldS,"pass_s":${Json.arr(passS)},
         |"pass_ops":${ops.map(o => Json.str(o.name)).mkString("[", ",", "]")},
         |"attempted":$attempted,"failures":${failures.mkString("[", ",", "]")},
         |"peak_rss_mb":${peakRssMb()},
         |"modules":{${modules.mkString(",")}},
         |"samples_ms":{${sampleJson.mkString(",\n")}},
         |"layers":{${layerJson.mkString(",\n")}}$pipeJson}
         |""".stripMargin
    Files.writeString(Paths.get(s"$out/result.json"), result)
    if (traced) Files.writeString(Paths.get(s"$out/spans.json"), tracer.toJson)
    root.stop()
  }
}
