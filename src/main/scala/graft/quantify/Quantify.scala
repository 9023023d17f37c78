package graft.quantify

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmer.Kmers
import graft.model.{Read, Transcript}

/** Sailfish-style EM abundance quantification — the Spark-SQL re-expression
  * of the reference's Quantify (rice-core .../algorithms/Quantify.scala:42-295).
  *
  * Every groupByKey of the reference becomes a hash aggregate with partial
  * (map-side) aggregation; the E-step's per-class normalization
  * (Quantify.scala:200-212, SURVEY A6) is a partial aggregate of class
  * totals joined back to the edges — NOT a window, see eStep; the M-step
  * normalizer (Quantify.scala:263-274, SURVEY A8) is a broadcast scalar
  * over the tiny per-transcript frame.
  *
  * Scale design: the only large relation is the (ec, tid, kj) membership edge
  * table — k_j pre-joined ONCE (it is iteration-invariant) and cached; per EM
  * iteration only per-task partial aggregates shuffle (class totals by ec,
  * then µ by tid) — the edges themselves never move when the per-class
  * totals broadcast, and a hot class cannot pin a task (see eStep).
  * The µ state is one row per transcript (small even at 100 TB read sets),
  * kept UNNORMALIZED across iterations (the E step is scale-invariant, so
  * Σ=1 is applied once at the end) and localCheckpoint()ed so each iteration
  * is a single eager job and the Catalyst plan does not grow with
  * iterations (SURVEY §7.4 risk I1).
  */
object Quantify {

  /** Count k-mers across a read set — ADAM's adamCountKmers re-expressed
    * (reference Quantify.scala:57-60, SURVEY A3).
    * @param reads DataFrame with a `sequence` string column
    * @return DataFrame(kmer string, count long)
    */
  def countKmers(reads: DataFrame, k: Int): DataFrame =
    reads
      .select(Kmers.kmerExplode(col("sequence"), k).as("kmer"))
      .groupBy("kmer")
      .agg(count(lit(1)).as("count"))

  /** Total count of read k-mers per equivalence class (reference
    * Quantify.scala:153-158, SURVEY J1+A4). The kmer→class relation is
    * many-to-one by design: a k-mer shared by N transcripts appears in N
    * classes and its count is credited to each.
    * @param kmerCounts DataFrame(kmer, count)
    * @param kmerToEc   DataFrame(kmer, ec)
    * @return DataFrame(ec long, count long)
    */
  def mapKmersToClasses(kmerCounts: DataFrame, kmerToEc: DataFrame): DataFrame =
    kmerToEc.join(kmerCounts, "kmer")
      .groupBy("ec")
      .agg(sum("count").as("count"))

  /** Split each equivalence-class count equally across its member
    * transcripts (reference Quantify.scala:175-184, SURVEY F9). Raw counts,
    * not normalized — the first M step applies k_j and length adjustment.
    * @param ecCounts DataFrame(ec, count)
    * @param ecToTx   DataFrame(ec, tid) — flat membership edge table
    * @return DataFrame(ec, tid, alpha)
    */
  def initializeEM(ecCounts: DataFrame, ecToTx: DataFrame): DataFrame = {
    // class sizes via partial aggregate + join-back, not a window: a hot
    // class (one EC holding half the edges) collapses to one row per map
    // task in the agg shuffle, and the join-back is AQE-skew-splittable —
    // a window partitioned by ec would funnel the hot class through a
    // single un-splittable partition (SURVEY §7.4 skew watch item)
    val classSizes = ecToTx.groupBy("ec").agg(count(lit(1)).as("classSize"))
    ecToTx.join(ecCounts, "ec").join(classSizes, "ec")
      .withColumn("alpha", col("count").cast("double") / col("classSize"))
      .select("ec", "tid", "alpha")
  }

  /** E step: α(j,i) = µ̂ᵢ / Σ_{t ⊇ sⱼ} µ̂ₜ per class j (reference
    * Quantify.scala:200-212). The reference's flatMap+groupByKey becomes a
    * partial aggregate of per-class µ totals joined back to the edges.
    *
    * Deliberately NOT a `sum over (partition by ec)` window: equivalence
    * classes are naturally skewed (one promiscuous k-mer class can hold
    * half the edges — SURVEY §7.4's watch item), and a window partition
    * cannot be split, so the hot class would serialize through one task.
    * With agg+join the hot key collapses map-side to one partial row per
    * task (the agg shuffle carries per-task partials, not edges), the
    * class-total frame is one row per EC (broadcastable when small, and
    * the join-back is AQE-skew-splittable when not), and the full edge set
    * never shuffles at all when the totals broadcast.
    * @param weights DataFrame(tid, muHat)
    * @param ecToTx  DataFrame(ec, tid)
    * @return DataFrame(ec, tid, alpha)
    */
  def eStep(weights: DataFrame, ecToTx: DataFrame): DataFrame = {
    // no broadcast hint on weights: one row per transcript — usually tiny,
    // but at extreme transcript cardinality a forced broadcast would OOM
    // where AQE's runtime size check gracefully falls back to SMJ
    val edges = ecToTx.join(weights, "tid")
    val classTotals = edges.groupBy("ec").agg(sum("muHat").as("classTotal"))
    // `edges` is referenced twice, but ReuseExchange dedupes any shuffle
    // under it and the weights join is a cheap broadcast-hash re-run
    edges.join(classTotals, "ec")
      .withColumn("alpha", col("muHat") / col("classTotal"))
      .select("ec", "tid", "alpha")
  }

  /** M step: µᵢ = (Σ_{sⱼ ⊆ tᵢ} α(j,i)·kⱼ) / (lᵢ − k + 1), then
    * µ̂ᵢ = µᵢ / Σµ (reference Quantify.scala:238-275). `relEc` carries
    * k_j = relative k-mer count of class j (Quantify.scala:79-87); `tLen`
    * is the broadcast transcript-length dim (J4).
    * @param alpha DataFrame(ec, tid, alpha)
    * @param relEc DataFrame(ec, kj double)
    * @param tLen  DataFrame(tid, len long)
    * @return DataFrame(tid, muHat)
    */
  def mStep(alpha: DataFrame, relEc: DataFrame, tLen: DataFrame, k: Int): DataFrame = {
    // relEc is one row per equivalence class — not provably tiny, so no
    // broadcast hint; AQE picks broadcast when the runtime size allows.
    // mus is referenced twice below (its rows AND its scalar total), so it
    // is materialized ONCE via localCheckpoint — without it the whole
    // join/aggregate chain would execute twice per EM iteration. The
    // checkpoint also truncates lineage, which is what keeps the driver
    // EM loop's plan constant-depth (SURVEY §7.4 risk I1) — callers need
    // no further checkpointing.
    val mus = alpha
      .join(relEc, "ec")
      .groupBy("tid")
      .agg(sum(col("alpha") * col("kj")).as("sumAlpha"))
      .join(broadcast(tLen), "tid")
      .withColumn("mu", col("sumAlpha") / (col("len") - k + 1).cast("double"))
      .localCheckpoint() // small: one row per transcript
    // scalar normalizer as a broadcast 1-row cross join — a global window here
    // would funnel every row through one partition (Quantify.scala:263-274's
    // reduce, without the single-partition hazard)
    mus.crossJoin(broadcast(mus.agg(sum("mu").as("totalMu"))))
      .select(col("tid"), (col("mu") / col("totalMu")).as("muHat"))
  }

  /** One fused EM iteration for the internal loop: E step (class totals
    * aggregated then joined back — skew-safe, see eStep) and M step
    * (per-transcript aggregate) over `edges` that already carry the
    * iteration-invariant k_j — so the loop never re-joins `relEc`. The α
    * normalization is scale-invariant in µ (α = µᵢ/Σµₜ), so the
    * per-iteration µ̂ = µ/Σµ normalizer is algebraically redundant and
    * deferred to the END of the loop: each iteration is exactly ONE eager
    * job (the localCheckpoint). When the per-EC totals broadcast (they are
    * one row per class), the cached edges never shuffle — the only shuffles
    * are the tiny per-task partial aggregates by ec and by tid.
    * @param mu    DataFrame(tid, mu) — unnormalized abundances
    * @param edges DataFrame(ec, tid, kj) — membership edges with k_j
    * @return DataFrame(tid, mu)
    */
  private def emIterate(mu: DataFrame, edges: DataFrame, tLen: DataFrame,
      k: Int): DataFrame = {
    val withMu = edges.join(mu, "tid")
    val classTotals = withMu.groupBy("ec").agg(sum("mu").as("classTotal"))
    mAgg(withMu.join(classTotals, "ec")
      .withColumn("alpha", col("mu") / col("classTotal")), tLen, k)
  }

  /** The M-step aggregate over (ec, tid, alpha, kj) rows, WITHOUT the µ̂
    * normalizer (see emIterate). localCheckpoint keeps the driver loop's
    * plan constant-depth — one eager job per call. */
  private def mAgg(alphaKj: DataFrame, tLen: DataFrame, k: Int): DataFrame =
    alphaKj
      .groupBy("tid")
      .agg(sum(col("alpha") * col("kj")).as("sumAlpha"))
      .join(broadcast(tLen), "tid")
      .select(col("tid"),
        (col("sumAlpha") / (col("len") - k + 1).cast("double")).as("mu"))
      .localCheckpoint() // small: one row per transcript

  /** Transcript length = Σ over exons of (region.width − 1) — exactly the
    * reference's Σ(end − start − 1) (Quantify.scala:137-141 with
    * QuantifySuite.scala:322-339; SURVEY A9). Computed with the `aggregate`
    * higher-order function over the nested exon array: no shuffle at all.
    * @return DataFrame(tid, len)
    */
  def transcriptLengths(transcripts: Dataset[Transcript]): DataFrame =
    transcripts.select(col("id").as("tid"),
      expr("aggregate(exons, 0L, (acc, e) -> acc + (e.region.end - e.region.start - 1))").as("len"))

  /** End-to-end quantification (reference Quantify.scala:42-127).
    *
    * @param reads    read set (only `.sequence` is consumed)
    * @param kmerToEc index half 1: DataFrame(kmer, ec)
    * @param ecToTx   class membership: DataFrame(ec, tid)
    * @param transcripts transcript descriptors (for lengths + final join)
    * @return DataFrame(tid, names, geneId, strand, exons, abundance) — the
    *   full transcript descriptor plus abundance (Σ abundance = 1), as the
    *   reference's RDD[(Transcript, Double)]
    */
  def apply(
      reads: Dataset[Read],
      kmerToEc: DataFrame,
      ecToTx: DataFrame,
      transcripts: Dataset[Transcript],
      kmerLength: Int,
      maxIterations: Int,
      calibrateKmerBias: Boolean = true,
      calibrateLengthBias: Boolean = true): DataFrame = {

    import graft.util.Timers
    val spark = reads.sparkSession
    val tLen = Timers.time("extractTranscriptLengths") {
      transcriptLengths(transcripts).cache()
    }

    val readKmers = Timers.time("countKmers") { countKmers(reads.toDF(), kmerLength) }
    // calibration reads the counts twice — its fit pass, then the lazy
    // calibrated rows — so they are cached, or every read shard would be
    // scanned twice; without calibration they are read once, uncached
    val calibrated =
      if (calibrateKmerBias) Timers.time("tareKmers") {
        graft.calibrate.Tare.calibrateKmers(readKmers.cache())
      }
      else readKmers

    val ecCounts = Timers.time("mapKmersToClasses") {
      mapKmersToClasses(calibrated, kmerToEc).cache()
    }

    // k_j = relative k-mer count of each class (Quantify.scala:79-87).
    // A scalar agg + broadcast cross join replaces the reference's
    // reduce+collectAsMap without a single-partition window.
    val relEc = ecCounts
      .crossJoin(broadcast(ecCounts.agg(sum("count").as("totalCount"))))
      .select(col("ec"), (col("count").cast("double") / col("totalCount")).as("kj"))
      .cache()

    // membership edges with the iteration-INVARIANT k_j pre-joined ONCE —
    // the loop below must never re-join relEc (it doesn't change across
    // iterations), so the per-iteration work is exactly the two shuffles
    // the math requires
    val edges = ecToTx.join(relEc, "ec").cache()

    // init: equal split + one (unnormalized) M aggregate (Quantify.scala:89-102)
    var mu = Timers.time("initializeEM") {
      mAgg(initializeEM(ecCounts, ecToTx).join(relEc, "ec"), tLen, kmerLength)
    }
    // the init job filled the ecCounts cache; the read counts are spent
    readKmers.unpersist()

    // EM loop — driver-side iteration over a constant-depth plan: mAgg
    // localCheckpoints the per-transcript state (ONE eager job per
    // iteration, as the reference's µ reduce), so each iteration's plan
    // roots at the previous checkpoint and never grows. µ stays
    // unnormalized inside the loop (the E step is scale-invariant); the
    // single µ̂ = µ/Σµ normalization happens once, below.
    (0 until maxIterations).foreach { _ =>
      Timers.time("emIteration") {
        mu = emIterate(mu, edges, tLen, kmerLength)
      }
    }

    // the deferred Σ=1 normalization (reference Quantify.scala:263-275):
    // scalar agg broadcast-cross-joined, never a single-partition window
    val muHat = mu
      .crossJoin(broadcast(mu.agg(sum("mu").as("totalMu"))))
      .select(col("tid"), (col("mu") / col("totalMu")).as("muHat"))

    val calibratedMu =
      if (calibrateLengthBias) Timers.time("calibrateTxLenBias") {
        graft.calibrate.Tare.calibrateTxLenBias(muHat, tLen)
      }
      else muHat

    // final join against full transcript descriptors (Quantify.scala:286-295):
    // the reference returns RDD[(Transcript, Double)] — the COMPLETE
    // descriptor (names, geneId, strand, exons) rides along with the
    // abundance so gene-level rollups need no second join
    transcripts.select(col("id").as("tid"), col("names"), col("geneId"),
        col("strand"), col("exons"))
      .join(calibratedMu, "tid")
      .select(col("tid"), col("names"), col("geneId"), col("strand"),
        col("exons"), col("muHat").as("abundance"))
  }
}
