package graft.kmer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** k-merization and dinucleotide featurization as pure Catalyst column
  * expressions — no Scala UDFs, so everything stays inside whole-stage
  * codegen and the optimizer can prune/push around them. The featurizer
  * is the one regressor of Tare's k-mer calibration.
  *
  * Reference semantics: `sequence.sliding(k)` (Index.scala:87-89, SURVEY F1)
  * and the 16-bin dinucleotide histogram (Tare.scala:38-101, SURVEY F3).
  */
object Kmers {

  /** All overlapping length-k substrings of `seq`, in order.
    * Empty array when the string is shorter than k (sliding's contract
    * would yield nothing; the guard also keeps `sequence()` from running
    * backwards when length-k is negative).
    */
  def kmers(seq: Column, k: Int): Column = {
    val positions = sequence(lit(1), length(seq) - (k - 1))
    when(length(seq) >= k, transform(positions, i => seq.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))
  }

  /** Generator form — one sequence row → (len−k+1) kmer rows, streamed by
    * the custom Catalyst expression (no intermediate array). Use this in
    * explode positions; use `kmers` where an array value is needed. */
  def kmerExplode(seq: Column, k: Int): Column =
    KmerGenerator.kmer_explode(seq, k)

  /** The 16 ACGT dinucleotide contexts in histogram-bin order:
    * bin b = 4·idx(first) + idx(second), idx in ACGT order
    * (Tare.scala:38-43). */
  val dinucs: Seq[String] = for (x <- "ACGT"; y <- "ACGT") yield s"$x$y"

  /** Integer count of each dinucleotide context of a k-mer, one column
    * per bin of [[dinucs]] — the contexts of `kmer.sliding(2)`
    * (Tare.scala:88-90). Each bin is a case-insensitive zero-width
    * lookahead `regexp_count`, so overlapping contexts all count (AAA
    * holds two AA), the expression is independent of k, and it stays in
    * whole-stage codegen. A context with a base outside ACGT matches no
    * bin: that is the reference's drop of invalid contexts
    * (isValidContext, Tare.scala:73-77 and :90).
    */
  def dinucCounts(kmer: Column): Seq[Column] =
    dinucs.map(dn => regexp_count(kmer, lit(s"(?i)(?=$dn)")))

  /** Number of valid contexts n = Σ `counts` of a k-mer. Zero valid
    * contexts is an error (assert at Tare.scala:91), surfaced via
    * `raise_error` to keep the same fail-fast contract. */
  def validContexts(kmer: Column, counts: Seq[Column]): Column = {
    val n = counts.reduce(_ + _)
    when(n > 0, n).otherwise(
      raise_error(concat(lit("no valid dinucleotide context in k-mer: "), kmer))
        .cast("int"))
  }

  /** 16-dim dinucleotide-context histogram h = c/n of a k-mer: the
    * [[dinucCounts]] normalized by the number of valid contexts
    * (Tare.scala:88-101). The regressor of Tare's k-mer calibration. */
  def dinucFeatures(kmer: Column): Column = {
    val c = dinucCounts(kmer)
    val n = validContexts(kmer, c)
    array(c.map(_ / n): _*)
  }
}
