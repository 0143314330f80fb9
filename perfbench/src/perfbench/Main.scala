package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Bench
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM.
  *
  * Arguments (all required): `--workload flow|ask`, `--data <dir>`
  * holding the workload's tables, `--work <dir>` for outputs,
  * `--out <file>` for the result, `--seconds <s>`, `--trace 0|1`,
  * `--seed <n>` (samples the `ask` queries), `--cores <n>`. Outputs are
  * checked against `Pins`, so the data must be the generated tables.
  *
  * Set-up is session start, fixture preparation and warm-up, once: a
  * stopped session cannot be restarted in the same JVM without losing
  * engine endpoints the streaming queries need. Untraced: timed passes
  * run until `--seconds` have passed. Traced: see `Workload.traced`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val name = a("workload")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val box = ArrayBuffer(Bench.cpuBaselineOnce(cores, 50000000L))
    val probe = new Probe

    def start(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(probe)
      s
    }

    val w: Workload = name match {
      case "flow" => new FlowWorkload(a("data"), s"$work/index", cores, Pins.flow)
      case "ask" => new AskWorkload(a("data"), a("seed").toLong, clients = 2, new Catalog(Pins.catalogRows))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checks = new Checks
    val (spark, setup) = Workload.seconds {
      val s = start()
      w.setup(s, checks)
      s
    }

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    def peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    val metrics = ArrayBuffer.empty[Layer]
    val samples = ArrayBuffer.empty[Pass]
    val tracer = new Tracer
    if (!trace) {
      val m0 = System.nanoTime()
      while (samples.isEmpty || (System.nanoTime() - m0) / 1e9 < a("seconds").toDouble)
        samples += w.pass(spark, checks)
      val walls = samples.map(_.wall).toSeq
      val lats = samples.flatMap(_.ops).toSeq
      metrics ++= Seq(
        Layer("setup_s", setup, "s"),
        Layer("wall_s", Bench.medianOf(walls), "s"),
        Layer("p50_ms", Bench.medianOf(lats) * 1e3, "ms"),
        Layer("ops_per_s", lats.size / walls.sum, "1/s"),
        Layer("jvm.peak_heap_mb", peakHeapMb, "MB"))
    } else {
      metrics ++= w.traced(spark, tracer, probe, checks) :+ Layer("jvm.peak_heap_mb", peakHeapMb, "MB")
    }
    box += Bench.cpuBaselineOnce(cores, 50000000L)

    val (attempted, failed, failures) = checks.counts
    val result = Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures,
      "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "artifact" -> (w.artifact ++ Map(
        "workload" -> name,
        "cores" -> cores,
        "box_cpu_baseline_s" -> Map("start" -> box(0), "end" -> box(1)),
        "setup_s" -> setup,
        "pass_walls_s" -> samples.map(_.wall),
        "op_latencies_s" -> samples.flatMap(_.ops),
        "spans" -> tracer.records)))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(a("out")), result)
    w.close()
    spark.stop()
  }
}
