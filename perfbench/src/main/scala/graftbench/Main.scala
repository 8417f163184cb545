package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run of one workload in one JVM, driven by `run.py`:
  * session set-up, warm-up passes, timed passes until the time is up,
  * the traced layer probes, then the last pass's outputs for the
  * correctness check. Everything measured goes to `<out>/run.json`;
  * `run.py` turns it into metrics.
  *
  * Usage: Main --workload W --data DIR --work DIR --out DIR
  *             --seconds S --trace 0|1 --cores N --params FILE --warmup K
  */
object Main {
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  private def readParams(path: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .values.asInstanceOf[Map[String, Any]]

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    if (a.contains("train")) {
      train(session(cores, work), a("train").split(',').toSeq, work)
      return
    }
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    val params = readParams(a("params"))

    val spark = session(cores, work)
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val client = new Client(spark, tracer, a("data"))
    val wl = Workloads(a("workload"), params)
    val passDir = s"$work/pass"

    // between passes, outside their timing: drop what the client cached
    // and collect, so every pass starts from the same heap
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // warm-up: JIT, footer reads, codegen caches; part of setup_s
    val warmupPasses = (1 to a("warmup").toInt).map { _ =>
      val w0 = System.nanoTime()
      wl.pass(client, passDir)
      cleanup()
      (System.nanoTime() - w0) / 1e9
    }
    val warmupS = warmupPasses.sum
    val warmupRequests = client.requests.toList
    client.requests.clear()
    client.batches.clear()
    val calib = calibrate(spark)

    // timed passes; a traced run alternates traced and untraced passes
    // so the tracing overhead is measured within one run
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    def need: Boolean = System.nanoTime() < deadline ||
      (trace && !passes.exists(p => p("traced") == false))
    while (i == 0 || need) {
      i += 1
      val traced = trace && i % 2 == 1
      tracer.enabled = traced
      tracer.pass = i
      client.pass = i
      client.traced = traced
      val (blocksBefore, _) = org.apache.spark.SparkInternals.heldBlocks(spark.sparkContext)
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      wl.pass(client, passDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val (blocks, bytes) = org.apache.spark.SparkInternals.heldBlocks(spark.sparkContext)
      passes += Map("pass" -> i, "traced" -> traced, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> endMs,
        "blocks_held_before" -> blocksBefore,
        "blocks_held_after" -> blocks, "bytes_held_after" -> bytes,
        "retained_heap_mb" -> retainedHeapMb(spark.sparkContext))
      cleanup()
    }

    val probes = if (trace) {
      tracer.enabled = true
      tracer.pass = -1
      client.pass = -1
      client.traced = true
      val r = wl.layerProbes(client)
      cleanup()
      r
    } else Map.empty[String, Double]
    tracer.drain()
    tracer.enabled = false

    // the last pass's results for the DuckDB check (outside timing)
    client.results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/check/$name")
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      toJson(wl.oracles.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "env" -> Map(
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
        // "sharing" when the JVM started from a class-data archive
        "vm_info" -> System.getProperty("java.vm.info"),
        "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values
          .map(_._1).sum / 1048576.0,
        "calib_s" -> calib),
      "setup" -> Map("jvm_start_ms" -> rt.getStartTime, "session_ready_ms" -> sessionReadyMs,
        "warmup_s" -> warmupS, "warmup_passes_s" -> warmupPasses,
        "warmup_requests" -> warmupRequests),
      "passes" -> passes,
      "requests" -> client.requests,
      "batches" -> client.batches,
      "written" -> client.written,
      "probes" -> probes,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durS) ++ s.extra),
      "jobs" -> tracer.jobs,
      "stages" -> tracer.stages.values.map(_.toMap),
      "queries" -> tracer.queries,
      "blocks" -> tracer.blocks)
    Files.writeString(Paths.get(s"$out/run.json"), toJson(record))
    spark.stop()
  }

  /** One pass of each `workload=dataDir` spec, so the JVM's class-data
    * archive (written at exit by the build) holds every class a run
    * loads. */
  private def train(spark: SparkSession, specs: Seq[String], work: String): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    specs.foreach { spec =>
      val Array(name, dir) = spec.split('=')
      Workloads(name, readParams(s"$dir/params.json")).pass(
        new Client(spark, tracer, dir), s"$work/train-$name")
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Fixed CPU-bound load probe, the same job as `graft.Bench`'s
    * calibration: median of three timings. */
  private def calibrate(spark: SparkSession): Double = {
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("xxhash64(id) & 4194303 AS h")
        .selectExpr("sum(h)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    t.sorted.apply(1)
  }

  /** Heap still reachable when a pass has ended, in MiB: what the
    * program and the session hold, without the garbage whose amount
    * depends on when the collector last ran. Spark's ContextCleaner
    * frees the blocks of broadcasts and shuffles only after a collection
    * has found them unreachable, on its own thread, so the heap is
    * collected, after the listener bus has drained, until two readings
    * 100 ms apart agree within 1 MiB; a single reading held ~95 MiB more
    * on some `ref_etl` runs. */
  private def retainedHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.SparkInternals.drain(sc)
    val mx = ManagementFactory.getMemoryMXBean
    def collected(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = collected()
    var i = 0
    var settled = false
    while (!settled && i < 20) {
      Thread.sleep(100)
      val now = collected()
      settled = math.abs(now - last) < 1.0
      last = now
      i += 1
    }
    last
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
}
