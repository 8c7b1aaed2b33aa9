package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark program. One JVM runs one workload:
  *
  *   perfbench.Runner run <workload> <seed> <seconds> <trace 0|1> <fixtureDir> <digests.tsv> <sample.tsv|full> <out.json>
  *   perfbench.Runner record <fixtureDir> <repeats> <out.tsv>
  *
  * `run` starts the session once, runs a first pass over the workload's
  * fixed sample (every query for the first time in the session), then
  * times warm passes, each in a seeded order. An untraced run times two
  * warm passes at least, and more while they fit in `seconds`; a traced
  * run times exactly two, so its per-layer sums always cover the same
  * work. With `full` in place of the sample file the pass covers the
  * workload's whole mix. A query the watchdog timed out is left out of
  * the later passes. It writes the raw run record (samples, context,
  * layers) as JSON; `run.py` turns it into metrics. `record` runs every
  * registered query `repeats` times and writes the reference digests. */
object Runner {
  /** Tables read through `graft.Tables.load` in the timed load probe. */
  val fixtureTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def readDigests(path: String): Map[String, Expected] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, mode, digest) = l.split("\t")
        name -> Expected(digest, mode == "exact")
      }.toMap

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args.tail)
    case Some("record") => record(args.tail)
    case _ =>
      System.err.println("usage: perfbench.Runner run|record ...")
      sys.exit(2)
  }

  private def run(a: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dir, digestsPath, samplePath, out) = a
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    require(Workloads.families.contains(workload), s"unknown workload $workload")
    val expected = readDigests(digestsPath)

    // ---- set-up: the cold session start and warm-up ----
    val tSetup = System.nanoTime()
    val spark = session(cpus)
    warmUp(spark, dir)
    val setupS = secsSince(tSetup)
    val registry = graft.SparkEntry.queries
    val mix = Workloads.all(registry.keys)(workload)
    val sample = if (samplePath == "full") mix else Workloads.sample(samplePath, workload)
    require(sample.nonEmpty && sample.forall(mix.contains),
      s"sample of $workload names no query or one outside its mix: $sample")
    val tracer = if (traced) Some(new Tracer(spark)) else None

    // ---- context: load readings, never used to adjust any number ----
    val probeStart = Calibration.point(spark)
    val loadMs = tracer.map(_ => timedLoads(spark, dir)).getOrElse(Seq.empty)

    // ---- passes ----
    val rng = new scala.util.Random(seed)
    val gc0 = Jvm.gcMs(); val jit0 = Jvm.jitMs()
    val storage0 = Storage.read(spark)
    tracer.foreach(_.begin())
    val samples = scala.collection.mutable.ArrayBuffer[Sample]()
    val passes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var storageBlocksMax = 0L
    val timedOut = scala.collection.mutable.Set[String]()
    def onePass(pass: Int): Double = {
      val tPass = System.nanoTime()
      tracer.foreach(_.openPass(pass))
      rng.shuffle(sample).filterNot(timedOut).foreach { name =>
        tracer.foreach(_.openQuery(name))
        val s = Accounting.runQuery(spark, name, registry(name), dir,
          expected.get(name), pass, tracer.getOrElse(Accounting.NoSpans))
        samples += s
        tracer.foreach { t =>
          t.closeQuery(s)
          storageBlocksMax = math.max(storageBlocksMax, Storage.read(spark).blocks)
        }
        if (s.failed) System.err.println(s"[perfbench] $name ${s.outcome}: ${s.detail}")
        if (s.outcome == "timeout") timedOut += name
      }
      tracer.foreach(_.closePass())
      val took = secsSince(tPass)
      passes += ((pass, took))
      took
    }
    // the first pass runs every query for the first time in the session
    // (codegen, JIT, memoized artifacts); it is set-up, outside the window
    onePass(0)
    // warm passes: two; when untraced, another while it should end within
    // `seconds`
    val tRun = System.nanoTime()
    onePass(1)
    var pass = 2
    var lastPassS = onePass(pass)
    while (!traced && secsSince(tRun) + lastPassS <= seconds) {
      pass += 1
      lastPassS = onePass(pass)
    }
    val measuredS = secsSince(tRun)
    val gcS = (Jvm.gcMs() - gc0) / 1e3; val jitS = (Jvm.jitMs() - jit0) / 1e3
    val storage1 = Storage.read(spark)
    val layers = tracer.map(_.finish(samples.toSeq, out.stripSuffix(".json") + ".trace.json"))
      .getOrElse(Map.empty)
    val probeEnd = Calibration.point(spark)

    val record = Json.obj(
      "workload" -> workload,
      "context" -> Json.obj(
        "seed" -> seed, "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spin_contention" -> Seq(probeStart.contention, probeEnd.contention),
        "spark_probe_s" -> Seq(probeStart.sparkS, probeEnd.sparkS),
        "spark_probe_drift" ->
          math.max(probeStart.sparkS, probeEnd.sparkS) / math.min(probeStart.sparkS, probeEnd.sparkS)),
      "mix_size" -> mix.size,
      "sample" -> sample,
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "passes" -> passes.map { case (i, w) => Json.obj("index" -> i, "wall_s" -> w) },
      "samples" -> samples.map(s => Json.obj("name" -> s.name, "pass" -> s.pass,
        "wall_s" -> s.wallS, "frame_s" -> s.frameS, "action_s" -> s.actionS,
        "check_s" -> s.checkS, "outcome" -> s.outcome, "detail" -> s.detail)),
      "jvm" -> Json.obj("gc_s" -> gcS, "jit_s" -> jitS),
      "storage" -> Json.obj("held_mb" -> storage1.mb, "growth_mb" -> (storage1.mb - storage0.mb),
        "blocks_after_query_max" -> storageBlocksMax),
      "tables_load_ms" -> loadMs,
      "layers" -> layers)
    Files.writeString(Paths.get(out), Json.render(record))
    tracer.foreach(_.close())
    spark.stop()
  }

  /** Session warm-up: a tiny scan, shuffle and window over the fixture so
    * the first timed query does not pay reader and codegen start-up. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, dir).limit(1000)
    li.groupBy(col("l_returnflag")).count().collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))
    li.withColumn("rn", row_number().over(w)).collect()
  }

  /** Direct timed `graft.Tables.load` calls, one per fixture table (ms). */
  private def timedLoads(spark: SparkSession, dir: String): Seq[Double] =
    fixtureTables.filter(t => Files.exists(Paths.get(s"$dir/$t.parquet"))).map { t =>
      val t0 = System.nanoTime()
      graft.Tables.load(spark, dir, t)
      (System.nanoTime() - t0) / 1e6
    }

  private def record(a: Array[String]): Unit = {
    val Array(dir, repeatsS, out) = a
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val registry = graft.SparkEntry.queries
    graft.SparkEntry.warm(spark, dir)
    val rng = new scala.util.Random(1)
    val seen = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    (0 until repeatsS.toInt).foreach { r =>
      rng.shuffle(registry.keys.toSeq.sorted).foreach { name =>
        val s = Accounting.runQuery(spark, name, registry(name), dir, None, r)
        require(s.digest.nonEmpty, s"$name ${s.outcome}: ${s.detail}")
        seen(name) = seen.getOrElse(name, Seq.empty) :+ s.digest
      }
    }
    val lines = seen.toSeq.sortBy(_._1).map { case (name, ds) =>
      val exact = ds.distinct.size == 1
      require(ds.map(Digest.rows).distinct.size == 1, s"$name row count varies: $ds")
      s"$name\t${if (exact) "exact" else "rows"}\t${ds.head}"
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** The spin-probe and Spark-probe load readings of `graft.Bench`,
  * recorded beside the metrics so a loaded box is visible. */
object Calibration {
  final case class Point(contention: Double, sparkS: Double)

  /** Single-thread ALU loop: wall ÷ CPU; ≫1 means the thread was
    * descheduled by outside load. */
  private def spin(): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val w0 = System.nanoTime(); val c0 = bean.getCurrentThreadCpuTime
    var z = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
    while (i < (1 << 25)) {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      acc ^= x ^ (x >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("[perfbench] spin blackhole")
    val w = (System.nanoTime() - w0).toDouble
    w / math.max((bean.getCurrentThreadCpuTime - c0).toDouble, 1.0)
  }

  /** Fixed small hash + shuffle job (s). */
  private def sparkProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(1L << 21).select(pmod(xxhash64(col("id")), lit(64)).as("k"))
      .groupBy("k").count().collect()
    (System.nanoTime() - t0) / 1e9
  }

  def point(spark: SparkSession): Point = {
    sparkProbe(spark)
    Point(math.min(spin(), spin()), math.min(sparkProbe(spark), sparkProbe(spark)))
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** Spark storage memory still held by cached blocks. */
object Storage {
  final case class Reading(blocks: Long, mb: Double)
  def read(spark: SparkSession): Reading = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Reading(infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}
