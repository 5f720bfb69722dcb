package perfbench

/** The query mix, as a list of families: queries of one family share
  * registry frames and always run adjacent, in the order given. The seed
  * shuffles the order of the families. */
object Mixes {
  /** Executor- and cache-bound: queries whose cost `count()` hid and
    * families sharing one registry frame (dup spans, LM scores, MinHash-LSH
    * and simhash shingles). */
  val heavy: Seq[Seq[String]] = Seq(
    Seq("q319_exact_substring_prune"), Seq("q318_gopher_repetition"),
    Seq("q108_dup_ngram_spans", "q141_dup_span_coalesce", "q151_span_removal_apply"),
    Seq("q323_doremi_reweight", "q336_doremi_iterate"),
    Seq("q41_minhash_lsh", "q42_ngram_jaccard", "q43_simhash"))

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(heavy).flatten
}
