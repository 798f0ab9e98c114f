package graft.operators

/** Corpus-size-scaled sizing for the dedup family, replacing a hard-coded
  * constant (VERDICT r1 #10).
  *
  * Sizing rule (see SCALING.md): a shingle present in d docs emits
  * d·(d-1)/2 candidate pairs, so capping d at ~sqrt(2·corpusRows) keeps the
  * worst single shingle's fan-out at ~corpus-linear.
  */
object Tuning {

  /** Shingle document-frequency cutoff: sqrt(2·corpusRows), at least 16. */
  def maxShingleDocFreq(corpusRows: Long): Long =
    math.max(16L, math.sqrt(2.0 * corpusRows).toLong)
}
