package graft.calibrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kmer.Kmers

/** Bias calibration — Spark-SQL re-expression of the reference's Tare
  * (rice-core .../algorithms/Tare.scala).
  *
  * Two corrections, each a driver-side solve over one bounded aggregate:
  *  - k-mer GC/sequence-context bias: regress log(count) on the 16-dim
  *    dinucleotide-context histogram, keep the residual (Tare.scala:110-136).
  *    One normal-equation fit, also run by q26 and mirrored term for term
  *    in DuckDB by [[exactSolveSql]].
  *  - transcript length bias: driver-side OLS of log(µ̂) on log(len) over
  *    the collected (transcript-sized) pairs — deliberately NOT distributed;
  *    the reference found MLlib SGD does not converge for 1-D features
  *    (Tare.scala:156-177 and the comment at :164-167).
  */
object Tare {

  private val d = Kmers.dinucs.length

  /** Recalibrate k-mer counts for sequence-context bias
    * (Tare.scala:110-136): [[calibratedCounts]] truncated to Long, as the
    * reference's `.toLong`.
    *
    * @param kmers DataFrame(kmer, count)
    * @return DataFrame(kmer, count long) with calibrated counts
    */
  def calibrateKmers(kmers: DataFrame): DataFrame =
    calibratedCounts(kmers).select(col("kmer"), col("cal").cast("long").as("count"))

  /** The calibrated k-mer count before truncation:
    *
    *   cal = exp(mean + log(count) − w·h),  mean = log(Σ count / #kmers)
    *
    * where h = c/n is the k-mer's dinucleotide histogram (c the integer
    * count of each valid context, n = Σc, [[Kmers.dinucCounts]]) and w the
    * least-squares fit of log(count) on h (Tare.scala:88-136). Σh = 1 on
    * every row, so the reference's intercept already lies in the column
    * space and the fit has none.
    *
    * The fit is one aggregation pass grouped by n (a pure-ACGT table is a
    * single group): per group, the exact BIGINT sums G = Σ c·cᵀ and
    * B = Σ c·⌊ln(count)·1e6⌋ (ln quantized per row, so the sums are
    * addition-order independent), then on the driver, in ascending n,
    * Gram = Σ G/n² and Xᵀy = Σ B/(1e6·n), and a no-pivot elimination. A
    * context absent from every k-mer has an all-zero row and column: its
    * elimination step is skipped and its weight is 0. A k-mer with no
    * valid context fails the pass with the featurizer's named error.
    *
    * @param kmers DataFrame(kmer, count)
    * @return DataFrame(kmer, cal double)
    */
  def calibratedCounts(kmers: DataFrame): DataFrame = {
    val c = (0 until d).map(i => col(s"c$i"))
    val feat = kmers
      .select(col("kmer") +: col("count") +: Kmers.dinucCounts(col("kmer")).zipWithIndex
        .map { case (x, i) => x.as(s"c$i") }: _*)
      .withColumn("n", Kmers.validContexts(col("kmer"), c))

    val logq = floor(log(col("count").cast("double")) * 1e6)
    val sums = (for (i <- 0 until d; j <- i until d) yield sum(c(i) * c(j))) ++
      c.map(ci => sum(ci * logq)) ++ Seq(sum(col("count")), count(lit(1)))
    // bounded collect: one row per distinct n, at most k − 1 rows
    val groups = feat.groupBy("n").agg(sums.head, sums.tail: _*)
      .collect().sortBy(_.getInt(0))

    val a = Array.ofDim[Double](d, d) // upper triangle (j >= i) only
    val bv = new Array[Double](d)
    var total, rows = 0L
    for (g <- groups) {
      val n = g.getInt(0).toDouble
      var idx = 1
      for (i <- 0 until d; j <- i until d) { a(i)(j) += g.getLong(idx) / (n * n); idx += 1 }
      for (i <- 0 until d) bv(i) += g.getLong(idx + i) / (1e6 * n)
      total += g.getLong(idx + d)
      rows += g.getLong(idx + d + 1)
    }

    // forward elimination without pivoting (the Gram of the present
    // contexts is SPD, so every such pivot is positive); each update is
    // written as x - (p / q) * y, the exact shape exactSolveSql emits
    for (kk <- 0 until d - 1 if a(kk)(kk) != 0; i <- kk + 1 until d) {
      for (j <- i until d)
        a(i)(j) = a(i)(j) - (a(kk)(i) / a(kk)(kk)) * a(kk)(j)
      bv(i) = bv(i) - (a(kk)(i) / a(kk)(kk)) * bv(kk)
    }
    // back substitution, subtracted terms in ascending-j order
    val w = new Array[Double](d)
    for (i <- d - 1 to 0 by -1 if a(i)(i) != 0) {
      var s = bv(i)
      for (j <- i + 1 until d) s = s - a(i)(j) * w(j)
      w(i) = s / a(i)(i)
    }

    val mean = math.log(total.toDouble / rows)
    val pred = c.indices.map(i => lit(w(i)) * c(i)).reduce(_ + _) / col("n")
    feat.select(col("kmer"),
      exp(lit(mean) + log(col("count").cast("double")) - pred).as("cal"))
  }

  /** The DuckDB mirror of [[calibratedCounts]]: CTEs from a relation
    * `f(kmer, cnt, c0..c15)` (integer context counts) to the final SELECT
    * of the calibrated count rounded to 6 dp. Groups fold in ascending n
    * (`list_reduce` over an ordered `list`), and every elimination and
    * back-substitution term has the association order of the Scala loops,
    * a zero pivot included, so the double arithmetic is bit-identical
    * given identical inputs. */
  def exactSolveSql(): String = {
    def a(i: Int, j: Int) = s"a${i}_$j"
    val perGroup =
      (for { i <- 0 until d; j <- i until d }
        yield s"CAST(sum(c$i*c$j) AS DOUBLE) / (n*n) AS ${a(i, j)}") ++
      (0 until d).map(i =>
        s"CAST(sum(c$i * CAST(floor(ln(cnt) * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * n) AS b$i") ++
      Seq("sum(cnt) AS total", "count(*) AS nk")
    val fold = ((for { i <- 0 until d; j <- i until d } yield a(i, j)) ++
      (0 until d).map(i => s"b$i"))
      .map(x => s"list_reduce(list($x ORDER BY n), (x, y) -> x + y) AS $x") ++
      Seq("CAST(sum(total) AS BIGINT) AS total", "CAST(sum(nk) AS BIGINT) AS nk")
    val fn = s"fn AS (SELECT *, ${(0 until d).map(i => s"c$i").mkString(" + ")} AS n FROM f)"
    val gs = s"gs AS (SELECT n,\n    ${perGroup.mkString(",\n    ")}\n  FROM fn GROUP BY n)"
    val g = s"g AS (SELECT\n    ${fold.mkString(",\n    ")}\n  FROM gs)"
    val steps = (0 until d - 1).map { kk =>
      val src = if (kk == 0) "g" else s"e${kk - 1}"
      def upd(x: String, y: String, i: Int) =
        s"CASE WHEN ${a(kk, kk)} = 0 THEN $x ELSE $x - (${a(kk, i)} / ${a(kk, kk)}) * $y END"
      val cols = scala.collection.mutable.Buffer[String]()
      for (p <- 0 to kk; q <- p until d) cols += a(p, q)
      for (p <- 0 to kk) cols += s"b$p"
      for (i <- kk + 1 until d) {
        for (j <- i until d) cols += s"${upd(a(i, j), a(kk, j), i)} AS ${a(i, j)}"
        cols += s"${upd(s"b$i", s"b$kk", i)} AS b$i"
      }
      cols += "total"; cols += "nk"
      s"e$kk AS (SELECT ${cols.mkString(", ")} FROM $src)"
    }
    val ws = (d - 1 to 0 by -1).map { i =>
      val src = if (i == d - 1) s"e${d - 2}" else s"w${i + 1}"
      val terms = (i + 1 until d).map(j => s" - ${a(i, j)} * w$j").mkString
      s"w$i AS (SELECT *, CASE WHEN ${a(i, i)} = 0 THEN 0 " +
        s"ELSE (b$i$terms) / ${a(i, i)} END AS w$i FROM $src)"
    }
    val predTerms = (0 until d).map(i => s"m.w$i*f.c$i").mkString(" + ")
    (Seq(fn, gs, g) ++ steps ++ ws).mkString(",\n") + s"""
      |SELECT f.kmer,
      |  round(exp(ln(m.total * 1.0 / m.nk) + ln(f.cnt) - ($predTerms) / f.n), 6)
      |    AS cal_count
      |FROM fn f, w0 m ORDER BY f.kmer""".stripMargin
  }

  /** Recalibrate transcript abundances for length bias
    * (Tare.scala:150-193). As-built semantics preserved exactly, including
    * the quirk that the fitted line is applied to the abundance µ̂ itself,
    * not to log-length (Tare.scala:187, SURVEY F6):
    *
    *   cal_i = exp(mean + slope·µ̂_i + intercept − µ̂_i),  mean = −log(n_sample)
    *
    * then renormalized to Σ = 1 (Tare.scala:189-192).
    *
    * @param muHat DataFrame(tid, muHat) — all abundances must be > 0
    * @param tLen  DataFrame(tid, len)
    * @return DataFrame(tid, muHat) calibrated
    */
  def calibrateTxLenBias(muHat: DataFrame, tLen: DataFrame): DataFrame = {
    // driver-side OLS on the (transcript-sized) (log µ̂, log len) pairs
    val local = muHat.join(broadcast(tLen), "tid")
      .select(col("muHat"), col("len").cast("double"))
      .collect()
      .map(r => (math.log(r.getDouble(0)), math.log(r.getDouble(1))))

    val n = local.length.toDouble
    val mean = -math.log(n)
    val sx = local.map(_._2).sum
    val sy = local.map(_._1).sum
    val sxx = local.map(p => p._2 * p._2).sum
    val sxy = local.map(p => p._1 * p._2).sum
    // closed-form normal equations for y = slope·x + intercept (the
    // reference solves the same 2×2 system with jblas, Tare.scala:168-176)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n

    val cal = muHat.withColumn("cal",
      exp(lit(mean) + (lit(slope) * col("muHat") + lit(intercept)) - col("muHat")))
    // Σ=1 renormalization (Tare.scala:189-192) via broadcast scalar agg
    cal.crossJoin(broadcast(cal.agg(sum("cal").as("totalCal"))))
      .select(col("tid"), (col("cal") / col("totalCal")).as("muHat"))
  }
}
