package graft

import org.apache.spark.sql.functions._
import scala.math.{exp, log}
import scala.util.Random
import graft.calibrate.Tare
import graft.kmer.Kmers
import graft.utils.TranscriptGenerator

/** Port of the reference's TareSuite invariants
  * (rice-core/.../algorithms/TareSuite.scala), driven through columns.
  */
class TareSuite extends SparkSuite {
  import spark.implicits._

  private def featurize(kmer: String): Array[Double] =
    Seq(kmer).toDF("kmer").select(Kmers.dinucFeatures(col("kmer")))
      .head().getSeq[Double](0).toArray

  test("can't process illegal k-mers") { // TareSuite.scala:36-46
    for (bad <- Seq("AN", "A", "ANTNC")) {
      try {
        val r = featurize(bad)
        fail(s"no exception for $bad, got: ${r.mkString(",")}")
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable =>
          assert(e.getMessage.contains("valid"), s"for $bad got: ${e.getClass} ${e.getMessage}")
      }
    }
  }

  test("chop a 2-mer into a feature") { // TareSuite.scala:48-58
    val featureAA = featurize("AA")
    assert(fpEquals(featureAA(0), 1.0))
    (1 to 15).foreach(i => assert(fpEquals(featureAA(i), 0.0)))
    val featureTT = featurize("TT")
    assert(fpEquals(featureTT(15), 1.0))
    (0 to 14).foreach(i => assert(fpEquals(featureTT(i), 0.0)))
  }

  test("chop an 5-mer with a bad base into a feature") { // TareSuite.scala:60-66
    val feature = featurize("AANTT")
    assert(fpEquals(feature(0), 0.5))
    assert(fpEquals(feature(15), 0.5))
    (1 to 14).foreach(i => assert(fpEquals(feature(i), 0.0)))
  }

  test("generate biased kmers and try correcting their counts") { // TareSuite.scala:68-94
    val sampleString = TranscriptGenerator.generateString(500, new Random(121212L))
    val kmerSamples = sampleString.sliding(15).map { s =>
      val gc = s.count(c => c == 'C' || c == 'G').toDouble / 15.0
      (s, (100.0 * exp(2.0 + 1.0 * (gc - 0.5))).toLong)
    }.toSeq

    val df = kmerSamples.toDF("kmer", "count")
    val Array(origMax, origMin) =
      df.agg(max("count"), min("count")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cal = Tare.calibrateKmers(df).cache()
    val Array(newMax, newMin) =
      cal.agg(max("count"), min("count")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(origMax > newMax)
    assert(origMin < newMin)
  }

  /** GC-biased count of each k-mer, times seeded log-normal noise of
    * the given spread. */
  private def gcBiased(kmers: Seq[String], seed: Long, noise: Double = 0.3) = {
    val rnd = new Random(seed)
    kmers.map { s =>
      val gc = s.count(ch => ch == 'C' || ch == 'G').toDouble / s.length
      (s, (100.0 * exp(2.0 + (gc - 0.5) + noise * rnd.nextGaussian())).toLong.max(1L))
    }
  }

  /** The reference implementation of the k-mer calibration, built here:
    * the dinucleotide histogram computed in plain Scala (valid ACGT
    * contexts of `kmer.sliding(2)`, normalized by their number), and
    * spark.ml LinearRegression with an intercept, as the reference's
    * Tare.scala:88-136 fits it. Returns the un-truncated calibrated count. */
  private def mlCalibrated(fixture: Seq[(String, Long)]): Map[String, Double] = {
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.ml.regression.LinearRegression
    def hist(kmer: String): org.apache.spark.ml.linalg.Vector = {
      val bins = kmer.sliding(2).map(_.map("ACGT".indexOf(_)))
        .collect { case Seq(a, b) if a >= 0 && b >= 0 => 4 * a + b }.toSeq
      Vectors.dense(Array.tabulate(16)(b => bins.count(_ == b).toDouble / bins.size))
    }
    val df = fixture.map { case (k, c) => (k, log(c.toDouble), hist(k)) }
      .toDF("kmer", "label", "features")
    val model = new LinearRegression().setFitIntercept(true).fit(df)
    val mean = log(fixture.map(_._2).sum.toDouble / fixture.size)
    model.transform(df).collect().map(r =>
      r.getString(0) -> exp(mean + r.getDouble(1) - r.getAs[Double]("prediction"))).toMap
  }

  private def assertMatchesMl(fixture: Seq[(String, Long)]): Unit = {
    val ml = mlCalibrated(fixture)
    val ours = Tare.calibrateKmers(fixture.toDF("kmer", "count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ours.size === fixture.size)
    ours.foreach { case (k, v) =>
      assert(math.abs(v - ml(k)) < 1.01, s"$k: calibrateKmers=$v vs spark.ml=${ml(k)}")
    }
  }

  test("the normal-equation fit matches a spark.ml LinearRegression fit") {
    // the one fit (no intercept on the normalized histogram: Σh = 1 puts
    // the intercept in the column space) must reproduce the reference
    // model's predictions. calibrateKmers floors to Long, hence <1.01.
    val bases = "ACGT"
    val kmers4 = for (a <- bases; b <- bases; c <- bases; d <- bases)
      yield s"$a$b$c$d"
    assertMatchesMl(gcBiased(kmers4, 4L, noise = 0.0))
    // 6-mers, about 10% holding an N: their invalid contexts are dropped
    // and the histogram is normalized by the valid ones only
    val rnd = new Random(6L)
    val kmers6 = Seq.fill(600)(Seq.fill(6)(bases(rnd.nextInt(4))).mkString).distinct
      .map(s => if (rnd.nextInt(10) == 0) s.updated(rnd.nextInt(6), 'N') else s).distinct
    assert(kmers6.count(_.contains('N')) > kmers6.size / 20)
    assertMatchesMl(gcBiased(kmers6, 6L))
  }

  test("k-mers that miss some dinucleotide contexts calibrate to finite counts") {
    // over {A,C} only, 12 of the 16 contexts appear in no k-mer: their
    // weights are 0, not a singular solve
    val kmers8 = (0 until 256).map(i =>
      (0 until 8).map(p => if ((i >> p & 1) == 1) 'C' else 'A').mkString)
    val fixture = gcBiased(kmers8, 8L)
    val cal = Tare.calibratedCounts(fixture.toDF("kmer", "count"))
      .collect().map(r => r.getString(0) -> r.get(1))
    assert(cal.length === 256)
    cal.foreach { case (k, v) =>
      assert(v != null && v.asInstanceOf[Double].isFinite, s"$k: $v")
    }
    assertMatchesMl(fixture)
  }

  test("a k-mer with no valid dinucleotide context fails the calibration by name") {
    val fixture = Seq(("ACGT", 5L), ("NNNN", 3L), ("GGCA", 7L)).toDF("kmer", "count")
    val e = intercept[Exception](Tare.calibrateKmers(fixture).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("valid")), e.toString)
  }

  test("calibrateTxLenBias for 4 hand-picked values") { // TareSuite.scala:96-118
    val muHat = Seq(("a", 0.28), ("b", 0.17), ("c", 0.31), ("d", 0.24)).toDF("tid", "muHat")
    val tLen = Seq(("a", 28L), ("b", 17L), ("c", 31L), ("d", 24L)).toDF("tid", "len")
    val cal = Tare.calibrateTxLenBias(muHat, tLen)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cal.size === 4)
    Seq("a", "b", "c", "d").foreach(t => assert(fpEquals(cal(t), 0.25), s"at $t"))
  }

  private def lengthOnlyVariation(dataSize: Int): Unit = { // TareSuite.scala:120-147
    val rand = new Random(113402062015L)
    val r = (0 to dataSize).map(i => (i.toString, 1L + rand.nextInt(10)))
    val sum = r.map(_._2).sum.toDouble
    val muHat = r.map(x => (x._1, x._2 / sum)).toDF("tid", "muHat")
    val tLen = r.toDF("tid", "len")
    val cal = Tare.calibrateTxLenBias(muHat, tLen).collect()
    cal.foreach(row => assert(fpEquals(row.getDouble(1), 1.0 / (dataSize + 1))))
  }

  test("randomized calibrateTxLenBias, small data size") { lengthOnlyVariation(10) }
  test("randomized calibrateTxLenBias, larger data size") { lengthOnlyVariation(10000) }
}
