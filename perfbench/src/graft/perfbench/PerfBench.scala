package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry}
import graft.mr.{ExecSpec, FnSpec, MapReduceJob, MapReduceRunner, Md5LinePartitioner, Workloads}
import graft.ops.{DedupOps, GraphOps, ScaleOps, SimilarityOps}

/** The JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * writes a plan file and starts this main with it; this side sets up,
  * runs the closed loop and writes what it measured, and `run.py` checks
  * the outputs and prints the metrics.
  *
  * One client issues the items of the workload one at a time, each after
  * the previous one finished. A pass is one batch of every item, in the
  * order the plan gives for that pass. Each pass starts from the same
  * cold state: build caches and blocks evicted, a fresh hard-linked copy
  * of the tables (so path-keyed caches are cold too), a full GC. Passes
  * repeat until the plan's seconds are spent.
  *
  * Item timing covers only the calls into the program: the query
  * constructor `SparkEntry.queries(name)(spark, dir)` and `collect()`,
  * or `MapReduceRunner.run`. Writing out the collected rows for the
  * check happens after the item's clock stopped.
  */
object PerfBench {

  final case class Plan(workload: String, items: Seq[String], orders: Seq[Seq[String]],
      seconds: Double, minPasses: Int, trace: Boolean, cores: Int, clockTicks: Int, tables: String,
      warmTables: String, corpus: String, grepToken: String,
      work: String, out: String) {
    def isMr: Boolean = workload == "mr_corpus"
  }

  final case class ItemRun(name: String, wallS: Double, cpuS: Double,
      constructS: Double, materializeS: Double, checkS: Double, error: Option[String],
      extBusyS: Double, iowaitS: Double, gcS: Double, gcCount: Long, liveMb: Double)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var ticksPerS = 100.0
  /** CPU seconds of this JVM plus those of its reaped child processes (the
    * shell pipelines `RDD.pipe` starts, and their own children), from the
    * cutime and cstime fields of /proc/self/stat. */
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9 + childCpuS
  private def childCpuS: Double =
    try {
      val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ') // f(0) is field 3
      (f(13).toLong + f(14).toLong) / ticksPerS
    } catch { case _: Exception => 0.0 }
  private def nowS: Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val jvmBootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val plan = readPlan(args(0))
    ticksPerS = plan.clockTicks
    val out = new File(plan.out)
    out.mkdirs()

    // Set-up: session start, then one untimed warm pass that runs every
    // item once, over the run's own inputs unless the plan names other
    // tables, so class loading, JIT and each item's generated code are warm
    // before timing (after a warmup on the sf0.001 tables, the first timed
    // pass of llm_ops or mr_corpus ran 20-30% slower than the next).
    // Its errors show again in the timed passes.
    val s0 = nowS
    val spark = startSession(plan)
    val startS = nowS - s0
    val w0 = nowS
    val warm = if (plan.isMr) plan.corpus else stage(plan, plan.warmTables, "warm")
    plan.orders.last.foreach { name =>
      try {
        if (plan.isMr) MapReduceRunner.run(spark, mrJob(plan, name, warm, s"${plan.work}/warm/$name"))
        else SparkEntry.queries(name)(spark, warm).collect()
      } catch { case _: Throwable => () }
    }
    val warmupS = nowS - w0

    val oracle = if (plan.isMr) Map.empty[String, String]
      else plan.items.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    writeJson(new File(out, "oracle.json"), oracle)

    val rows = new PrintWriter(new File(out, "rows.jsonl"), "UTF-8")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer
    val loopStart = nowS
    var p = 0
    // A traced run alternates untraced and traced passes, starting
    // untraced, so the tracing overhead is measured inside one run.
    def enough = nowS - loopStart >= plan.seconds && p >= plan.minPasses
    while (!enough) {
      val traced = plan.trace && p % 2 == 1
      val cold = evict(spark)
      val dir = if (plan.isMr) plan.corpus else stage(plan, plan.tables, s"p$p")
      if (traced) { tracer.reset(); spark.sparkContext.addSparkListener(tracer) }
      val order = plan.orders(p % plan.orders.size)
      val spans = mutable.ArrayBuffer.empty[Span]
      val issued = nowS
      val items = order.map(name => runItem(spark, plan, name, dir, p, traced, spans, rows))
      // from the first item's issue to the last item's end, the check and
      // the full GC after it included: the closed loop's own clock
      val loopS = nowS - issued
      val builds = GraphOps.pairCacheSnapshot.size + GraphOps.lshPairCacheSnapshot.size +
        SimilarityOps.ivfCacheSnapshot.size + ScaleOps.bucketedStageSnapshot.size / 2
      val (layers, itemLayers) =
        if (!traced) (Map.empty[String, Double], Map.empty[String, Map[String, Double]])
        else {
          tracer.drain()
          spark.sparkContext.removeSparkListener(tracer)
          (Layers.of(plan, tracer, spans.toSeq, items, loopS), Layers.perItem(tracer, spans.toSeq))
        }
      passes += Map(
        "traced" -> traced,
        "wall_s" -> items.map(_.wallS).sum,
        "cpu_s" -> items.map(_.cpuS).sum,
        "heap_peak_mb" -> items.map(_.liveMb).max,
        "gc_s" -> items.map(_.gcS).sum,
        "gc_count" -> items.map(_.gcCount).sum,
        "ext_busy_s" -> items.map(_.extBusyS).sum,
        "iowait_s" -> items.map(_.iowaitS).sum,
        "evict_s" -> cold._1,
        "residue_mb" -> cold._2,
        "residue_rdds" -> cold._3,
        "cache_builds" -> builds,
        "layers" -> layers,
        "item_layers" -> itemLayers,
        "items" -> items.map(i => Map(
          "name" -> i.name, "wall_s" -> i.wallS, "cpu_s" -> i.cpuS,
          "construct_s" -> i.constructS, "materialize_s" -> i.materializeS,
          "check_s" -> i.checkS, "error" -> i.error.orNull)))
      p += 1
    }
    rows.close()
    val last = evict(spark)
    val md5 = if (plan.trace && plan.isMr) md5NsPerKey(plan) else 0.0
    writeJson(new File(out, "result.json"), Map(
      "jvm_boot_s" -> jvmBootS,
      "start_s" -> startS,
      "warmup_s" -> warmupS,
      "passes" -> passes.toSeq,
      "final_residue_mb" -> last._2,
      "final_residue_rdds" -> last._3,
      "md5_ns_per_key" -> md5))
    spark.stop()
  }

  // ---- session and inputs ----------------------------------------------

  private def startSession(plan: Plan): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      .config("spark.sql.warehouse.dir", s"${plan.work}/warehouse")
      .config("spark.local.dir", s"${plan.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${plan.work}/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh directory of hard links to the generated tables: the program
    * sees a path it has not seen before, so its path-keyed caches (schema,
    * fan-out probe, build caches) start cold, at no copying cost. */
  private def stage(plan: Plan, from: String, tag: String): String = {
    val dir = Paths.get(plan.work, "stage", tag)
    Files.createDirectories(dir)
    new File(from).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val link = dir.resolve(f.getName)
      if (!Files.exists(link)) Files.createLink(link, f.toPath)
    }
    dir.toString
  }

  /** Cold state: the program's evict hooks, then the residue they leave in
    * the block manager (a leak shows here as a number), then the full
    * sweep. Returns (seconds, residue MB, residue persisted RDDs). */
  private def evict(spark: SparkSession): (Double, Double, Int) = {
    val t0 = nowS
    DedupOps.evictClusterCache()
    GraphOps.evictPairCache()
    SimilarityOps.evictIvfCache()
    ScaleOps.evictBucketedStage()
    val sc = spark.sparkContext
    val residueMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val residueRdds = sc.getPersistentRDDs.size
    Bench.freeBlocks(spark)
    val sec = nowS - t0
    System.gc()
    (sec, residueMb, residueRdds)
  }

  // ---- items -------------------------------------------------------------

  /** The three MapReduce jobs, with M = R = cores. `wc_pipe` runs the
    * reference's shell one-liners through `RDD.pipe`. */
  private def mrJob(plan: Plan, name: String, in: String, outDir: String): MapReduceJob = {
    val (m, r) = name match {
      case "wc" => (FnSpec(Workloads.wcMapPy), FnSpec(Workloads.wcReduceSh))
      case "grep" => (FnSpec(Workloads.grepMap(plan.grepToken)), FnSpec(Workloads.grepReduce))
      case "wc_pipe" => (
        ExecSpec(Seq("bash", "-c",
          "tr '[ \\t]' '\\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1\"\\t1\"}'")),
        ExecSpec(Seq("bash", "-c", "cut -f1 | uniq -c | awk '{print $2\"\\t\"$1}'")))
      case other => throw new IllegalArgumentException(s"unknown MapReduce job $other")
    }
    MapReduceJob(in, outDir, m, r, plan.cores, plan.cores)
  }

  private def runItem(spark: SparkSession, plan: Plan, name: String, dir: String, pass: Int,
      traced: Boolean, spans: mutable.ArrayBuffer[Span], rows: PrintWriter): ItemRun = {
    val sc = spark.sparkContext
    def span[T](phase: String)(f: => T): (T, Double) = {
      if (traced) sc.setJobGroup(s"pb|$name|$phase", phase, interruptOnCancel = false)
      val ms0 = System.currentTimeMillis()
      val t0 = nowS
      try {
        val r = f
        (r, nowS - t0)
      } finally {
        if (traced) {
          spans += Span(name, phase, ms0, System.currentTimeMillis(), nowS - t0)
          sc.clearJobGroup()
        }
      }
    }
    val busy0 = Bench.procStatBusySec()
    val iow0 = Bench.procStatIowaitSec()
    val gc0 = gcTotals
    val cpu0 = cpuS
    val t0 = nowS
    var constructS, materializeS = 0.0
    var collected: Option[(StructType, Array[Row])] = None
    val error = try {
      if (plan.isMr) {
        val job = mrJob(plan, name, dir, s"${plan.out}/mr/p$pass/$name")
        materializeS = span("materialize")(MapReduceRunner.run(spark, job))._2
      } else {
        val (df, c) = span("construct")(SparkEntry.queries(name)(spark, dir))
        constructS = c
        val (rs, m) = span("materialize")(df.collect())
        materializeS = m
        collected = Some((df.schema, rs))
      }
      None
    } catch {
      case e: Throwable =>
        if (traced) sc.clearJobGroup()
        Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val wall = nowS - t0
    val cpu = cpuS - cpu0
    val gc1 = gcTotals
    val busy = (for (b0 <- busy0; b1 <- Bench.procStatBusySec()) yield b1 - b0).getOrElse(0.0)
    val iow = (for (i0 <- iow0; i1 <- Bench.procStatIowaitSec()) yield i1 - i0).getOrElse(0.0)
    val (_, checkS) = span("check") {
      if (!plan.isMr) rows.println(RowJson.line(pass, name, collected, error))
    }
    // The live heap after the item: a full GC, outside the item's clock,
    // also hands the next item the same clean heap in every run.
    System.gc()
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    ItemRun(name, wall, cpu, constructS, materializeS, checkS, error,
      math.max(0.0, busy - cpu), iow, gc1._1 - gc0._1, gc1._2 - gc0._2, liveMb)
  }

  /** Single-thread cost of the md5-mod partitioner per key, over the
    * tokens of the first corpus file (one digest instance and one
    * BigInteger per call, as the shuffle pays it). */
  private def md5NsPerKey(plan: Plan): Double = {
    val first = new File(plan.corpus).listFiles().filter(!_.getName.startsWith("."))
      .minBy(_.getName)
    val keys = scala.io.Source.fromFile(first, "UTF-8").getLines()
      .flatMap(_.split(' ')).take(400000).toArray
    var sink = 0
    keys.take(50000).foreach(k => sink += Md5LinePartitioner.partitionOf(k, plan.cores))
    val t0 = System.nanoTime()
    keys.foreach(k => sink += Md5LinePartitioner.partitionOf(k, plan.cores))
    val ns = (System.nanoTime() - t0).toDouble / keys.length
    if (sink == Int.MinValue) println(sink)
    ns
  }

  private def gcTotals: (Double, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
     gcs.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  // ---- plan and result files ---------------------------------------------

  private def readPlan(path: String): Plan = {
    val n = new ObjectMapper().readTree(new File(path))
    def strs(a: com.fasterxml.jackson.databind.JsonNode) = a.elements().asScala.map(_.asText).toSeq
    Plan(n.get("workload").asText, strs(n.get("items")),
      n.get("orders").elements().asScala.map(strs).toSeq,
      n.get("seconds").asDouble, n.get("min_passes").asInt, n.get("trace").asBoolean,
      n.get("cores").asInt,
      n.get("clock_ticks").asInt, n.get("tables").asText, n.get("warm_tables").asText,
      n.get("corpus").asText, n.get("grep_token").asText,
      n.get("work").asText, n.get("out").asText)
  }

  private def writeJson(f: File, v: Any): Unit =
    Files.writeString(f.toPath, new ObjectMapper().writeValueAsString(toJava(v)))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}

/** One line of `rows.jsonl`: a collected result with a type kind per
  * column, for `run.py` to compare with the DuckDB oracle. Kinds: i
  * integral, f floating, s string, b boolean, t timestamp or date (values
  * in microseconds since the epoch, UTC), d decimal, x nested or other. */
object RowJson {
  private val mapper = new ObjectMapper()

  def kind(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "i"
    case FloatType | DoubleType => "f"
    case StringType => "s"
    case BooleanType => "b"
    case TimestampType | TimestampNTZType | DateType => "t"
    case _: DecimalType => "d"
    case _ => "x"
  }

  private def value(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else f.toDouble
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000000L
    case b: java.math.BigDecimal => b.toString
    case b: scala.math.BigDecimal => b.toString
    case s: scala.collection.Seq[_] => s.map(value).asJava
    case r: Row => r.toSeq.map(value).asJava
    case other => other
  }

  def line(pass: Int, item: String, collected: Option[(StructType, Array[Row])],
      error: Option[String]): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("pass", pass)
    m.put("item", item)
    error.foreach(e => m.put("error", e))
    collected.foreach { case (schema, rows) =>
      m.put("cols", schema.fields.map(f => java.util.List.of(f.name, kind(f.dataType))).toSeq.asJava)
      m.put("rows", rows.map(r => r.toSeq.map(value).asJava).toSeq.asJava)
    }
    mapper.writeValueAsString(m)
  }
}
