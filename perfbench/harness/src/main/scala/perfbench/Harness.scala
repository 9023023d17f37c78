package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry}
import graft.calibrate.Tare
import graft.index.Indexer
import graft.io.{Fastq, Genome, Gtf, IndexSchema}
import graft.model.{Read, Transcript}
import graft.quantify.Quantify
import graft.util.Timers

/** The benchmark's JVM side: one process per call, started by run.py.
  *
  * {{{
  * Harness <mode> <spawnEpochNs> <out.json> <trace 0|1> args...
  *   setup                          create the session and exit
  *   cli      <graft.cli.Main args> one CLI command (index or quantify)
  *   queries  <sfDir> <checkDir> <seconds> <q1,q2,...>
  * }}}
  *
  * Every mode first builds the session the way the CLI does
  * (`Sessions.local`), and reports `setup_s` from the spawn time run.py
  * passes in. Untraced `cli` calls `graft.cli.Main.main` itself; traced
  * `cli` makes the same layer calls as the CLI, each inside a span.
  * `queries` times passes over the list, each query collected in full,
  * and keeps the first pass's outputs for the oracle check.
  */
object Harness {

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def main(args: Array[String]): Unit = {
    val Array(mode, spawnNs, out, trace) = args.take(4)
    val rest = args.drop(4).toList
    val spark = Sessions.local(cpus)
    val ready = Instant.now()
    val setupS = (ready.getEpochSecond * 1000000000L + ready.getNano - spawnNs.toLong) / 1e9
    val traced = trace == "1"
    val result = (mode, rest) match {
      case ("setup", Nil) => Map.empty[String, Any]
      case ("cli", cmd) if !traced =>
        val m = new Meter
        graft.cli.Main.main(cmd.toArray)
        m.read()
      case ("cli", cmd) => tracedCli(spark, cmd)
      case ("queries", sf :: check :: seconds :: names :: Nil) =>
        queries(spark, traced, sf, check, seconds.toDouble, names.split(',').toSeq)
      case _ => throw new IllegalArgumentException(args.mkString("bad arguments: ", " ", ""))
    }
    Files.writeString(Paths.get(out), org.json4s.jackson.Serialization.write(
      result + ("setup_s" -> setupS))(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** Wall, process CPU, GC and peak heap over a region of this JVM. */
  final class Meter {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    heap.foreach(_.resetPeakUsage())
    private val t0 = System.nanoTime()
    private val cpu0 = os.getProcessCpuTime
    private val gc0 = gcMs

    def read(): Map[String, Any] = Map(
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "gc_s" -> (gcMs - gc0) / 1e3,
      "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Execute `df` in full and drop the rows. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def spanList(tr: Tracer): Seq[Map[String, Any]] = tr.spans.toSeq.map(s =>
    Map("name" -> s.name, "parent" -> s.parent, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "run" -> s.runId))

  /** Spark work and JVM figures every traced run reports. */
  private def engine(tr: Tracer, meter: Map[String, Any]): Map[String, Any] = {
    val all = tr.workOf("")
    Map("spark.jobs" -> all.jobs, "spark.tasks" -> all.tasks,
      "spark.task_failures" -> all.failures, "jvm.gc_s" -> meter("gc_s"),
      "jvm.heap_peak_mb" -> meter("heap_peak_mb"))
  }

  private def tracedCli(spark: SparkSession, cmd: List[String]): Map[String, Any] = {
    val tr = new Tracer(spark, s"${cmd.head}-${ProcessHandle.current.pid}").start()
    val m = new Meter
    val (layers, after) = cmd match {
      case "index" :: genome :: gtf :: k :: out :: Nil =>
        (tracedIndex(spark, tr, genome, gtf, k.toInt, out), () => Map.empty[String, Any])
      case "quantify" :: reads :: index :: gtf :: k :: out :: flags =>
        val iters = flags.sliding(2).collectFirst {
          case "-max_iterations" :: n :: Nil => n.toInt
        }.getOrElse(50)
        tracedQuantify(spark, tr, reads, index, gtf, k.toInt, out, iters,
          !flags.contains("-disable_kmer_calibration"),
          !flags.contains("-disable_length_calibration"))
      case _ => throw new IllegalArgumentException(cmd.mkString("bad command: ", " ", ""))
    }
    val meter = m.read()
    val top = tr.spans.filter(_.parent.isEmpty).map(_.seconds).sum
    tr.stop()
    val extra = after()
    meter ++ Map("layers" -> (layers ++ extra ++ engine(tr, meter)),
      "span_s" -> top, "spans" -> spanList(tr))
  }

  /** `graft index`, layer by layer (graft.cli.Main.runIndex). */
  private def tracedIndex(spark: SparkSession, tr: Tracer, genomePath: String,
      gtfPath: String, k: Int, out: String): Map[String, Any] = {
    val genome = tr.span("io.Genome.read")(Genome.read(genomePath))
    val bc = spark.sparkContext.broadcast(genome)
    val transcripts = tr.span("io.Gtf.transcripts") {
      val t = Gtf.transcripts(spark, gtfPath).cache()
      t.count()
      t
    }
    // the CLI's hull extraction, verbatim
    val extract = udf { (exons: Seq[Row]) =>
      val regions = exons.map(_.getStruct(3))
      val name = regions.head.getString(0)
      val start = regions.map(_.getLong(1)).min
      val end = regions.map(_.getLong(2)).max
      bc.value(name).substring(start.toInt, end.toInt)
    }
    val seqs = transcripts.select(col("id"), extract(col("exons")).as("sequence"))
    val idx = tr.span("index.Indexer.apply") {
      val r = Indexer(seqs, k)
      noop(r.kmerToEc) // fills the index's cached (tid, kmer, ec) relation
      r
    }
    tr.span("index.write") {
      idx.kmerToEc.write.mode("overwrite").parquet(out + "_kmers")
      idx.ecToKmers.write.mode("overwrite").parquet(out + "_classes")
      idx.ecToTx.write.mode("overwrite").parquet(out + "_tx")
    }
    val w = tr.workOf("index.")
    Map("io.genome_load_s" -> tr.seconds("io.Genome.read"),
      "io.gtf_parse_s" -> tr.seconds("io.Gtf.transcripts"),
      "io.index_bytes_written" -> tr.workOf("index.write").outBytes,
      "index.build_s" -> tr.seconds("index.Indexer.apply"),
      "index.jobs" -> w.jobs, "index.task_cpu_s" -> w.cpuNs / 1e9,
      "index.shuffle_write_bytes" -> w.shuffleWrite, "index.spill_bytes" -> w.spill)
  }

  /** `graft quantify`, layer by layer (graft.cli.Main.runQuantify). The
    * k-mer counts and their calibration are also materialized on their
    * own, in spans before `Quantify.apply`, which recomputes them: that
    * is part of the tracing overhead. FASTQ and index reads are counted
    * inside `Quantify.apply` and the output write only, the work the CLI
    * does. Returns the layer metrics and a function that measures the EM
    * problem size after the traced region. */
  private def tracedQuantify(spark: SparkSession, tr: Tracer, readsPath: String,
      index: String, gtf: String, k: Int, out: String, iters: Int,
      calibrateKmers: Boolean, calibrateLength: Boolean)
      : (Map[String, Any], () => Map[String, Any]) = {
    import spark.implicits._
    val reads = tr.span("io.Fastq.loadReads")(Fastq.loadReads(spark, readsPath).as[Read])
    val kmerToEc = IndexSchema.readNormalized(spark, index + "_kmers")
    val ecToTx = IndexSchema.readEcToTx(spark, index)
    val transcripts = tr.span("io.Gtf.transcripts")(Gtf.transcripts(spark, gtf).as[Transcript])
    val counts = Quantify.countKmers(reads.toDF(), k).cache()
    val kc = tr.span("kmer.Quantify.countKmers")(
      counts.agg(count(lit(1)), coalesce(sum("count"), lit(0L))).head())
    if (calibrateKmers)
      tr.span("calibrate.Tare.calibrateKmers")(noop(Tare.calibrateKmers(counts)))
    // uncached, or Quantify.apply would read these counts, not the reads
    counts.unpersist(blocking = true)
    Timers.reset()
    val abundances = tr.span("quantify.Quantify.apply")(Quantify(reads, kmerToEc,
      ecToTx, transcripts, k, iters, calibrateKmers, calibrateLength))
    val stages = Timers.snapshot()
    tr.span("quantify.write")(abundances
      .select(concat_ws(", ", col("tid"), col("abundance")).as("value"))
      .write.mode("overwrite").text(out))

    val q = tr.workOf("quantify.")
    val kw = tr.workOf("kmer.")
    val cw = tr.workOf("calibrate.")
    val qWall = tr.seconds("quantify.Quantify.apply") + tr.seconds("quantify.write")
    val em = stages.getOrElse("emIteration", 0.0)
    val layers = Map(
      "io.fastq_shard_scans" -> q.fastqScans,
      "io.index_bytes_read" -> q.parquetBytes,
      "kmer.count_s" -> tr.seconds("kmer.Quantify.countKmers"),
      "kmer.distinct" -> kc.getLong(0), "kmer.occurrences" -> kc.getLong(1),
      "kmer.task_cpu_s" -> kw.cpuNs / 1e9, "kmer.shuffle_write_bytes" -> kw.shuffleWrite,
      "kmer.spill_bytes" -> kw.spill,
      "calibrate.kmers_s" -> tr.seconds("calibrate.Tare.calibrateKmers"),
      "calibrate.kmers_jobs" -> cw.jobs, "calibrate.kmers_task_cpu_s" -> cw.cpuNs / 1e9,
      "calibrate.len_s" -> stages.getOrElse("calibrateTxLenBias", 0.0),
      "quantify.apply_s" -> tr.seconds("quantify.Quantify.apply"),
      "quantify.init_s" -> stages.getOrElse("initializeEM", 0.0),
      "quantify.em_s" -> em, "quantify.em_iter_ms" -> em * 1000 / iters.max(1),
      "quantify.jobs" -> q.jobs, "quantify.jobs_per_iter" -> q.emJobs.toDouble / iters.max(1),
      "quantify.tasks" -> q.tasks,
      "quantify.cpu_per_wall" -> q.cpuNs / 1e9 / (qWall * cpus.toInt),
      "quantify.write_s" -> tr.seconds("quantify.write"))
    val problemSize = () => {
      val classes = Quantify.mapKmersToClasses(Quantify.countKmers(reads.toDF(), k), kmerToEc)
        .select("ec")
      Map[String, Any]("quantify.classes" -> classes.count(),
        "quantify.edges" -> classes.join(ecToTx, "ec").count())
    }
    (layers, problemSize)
  }

  /** Layer of a registered query: its package (graft.relational, graft.ops
    * or graft.streaming), from the family it is registered under. */
  private def layerOf(query: String): String = SparkEntry.familyOf(query) match {
    case "relational" | "genomics" => "relational"
    case "streaming" => "streaming"
    case _ => "ops"
  }

  private def queries(spark: SparkSession, traced: Boolean, sf: String, check: String,
      seconds: Double, names: Seq[String]): Map[String, Any] = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val errors = scala.collection.mutable.Map[String, String]()
    val outputs = scala.collection.mutable.LinkedHashMap[String, (StructType, Array[Row])]()

    /** One pass over the list, shared builds charged: memos evicted first.
      * A query's time covers building its frame and collecting every
      * output row and column. The first pass keeps the rows for the
      * oracle check. */
    def pass(tr: Option[Tracer]): Map[String, Any] = {
      graft.ops.Memo.evictAll()
      spark.catalog.clearCache()
      val memo0 = graft.ops.Memo.buildSecSnapshot.values.sum
      val keep = outputs.isEmpty
      val m = new Meter
      val ops = fns.map { case (n, fn) =>
        val t0 = System.nanoTime()
        def run() = { val df = fn(spark, sf); (df.schema, df.collect()) }
        try {
          val out = tr.fold(run())(_.span(s"${layerOf(n)}.$n")(run()))
          if (keep) outputs(n) = out
        } catch { case e: Exception => errors(n) = String.valueOf(e.getMessage) }
        n -> (System.nanoTime() - t0) / 1e9
      }
      m.read() ++ Map("ops" -> ops.toMap,
        "memo_s" -> (graft.ops.Memo.buildSecSnapshot.values.sum - memo0))
    }

    // warm-up, untimed: the session's first jobs pay one-off JVM and Spark
    // start-up costs that would otherwise land on whichever query the
    // seed puts first. Reads every corpus table and runs a query that is
    // not in the list.
    new java.io.File(sf).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
      .foreach(t => noop(spark.read.parquet(t)))
    SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()

    val tr = if (traced) Some(new Tracer(spark, s"queries-${ProcessHandle.current.pid}").start())
      else None
    val passes = scala.collection.mutable.ArrayBuffer(pass(tr))
    while (!traced && passes.map(_("wall_s").asInstanceOf[Double]).sum < seconds)
      passes += pass(None)
    tr.foreach(_.stop())

    // small local writes, run concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(outputs.toSeq) { case (n, (schema, rows)) => Future {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$check/$n")
      SparkEntry.oracleSql.get(n).foreach(sql =>
        Files.writeString(Paths.get(s"$check/$n.sql"), sql))
    }}, scala.concurrent.duration.Duration.Inf)

    val result = Map[String, Any]("errors" -> errors, "passes" -> passes.toSeq)
    tr.fold(result) { tr =>
      val p = passes.head
      val layers = Seq("relational", "ops", "streaming").flatMap { l =>
        val w = tr.workOf(l + ".")
        Seq(s"$l.wall_s" -> tr.spans.filter(_.name.startsWith(l + ".")).map(_.seconds).sum,
          s"$l.plan_s" -> w.planMs / 1e3, s"$l.jobs" -> w.jobs, s"$l.tasks" -> w.tasks,
          s"$l.task_cpu_s" -> w.cpuNs / 1e9, s"$l.shuffle_bytes" -> w.shuffleWrite,
          s"$l.spill_bytes" -> w.spill)
      }.toMap ++ Map("memo.build_s" -> p("memo_s")) ++ engine(tr, p)
      result ++ Map("layers" -> layers,
        "span_s" -> tr.spans.filter(_.parent.isEmpty).map(_.seconds).sum,
        "spans" -> spanList(tr))
    }
  }
}
