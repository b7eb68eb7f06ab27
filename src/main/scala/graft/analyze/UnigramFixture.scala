package graft.analyze

/** Frozen unigram-LM vocabulary for the q223 correctness gate.
  *
  * Trained once with [[TextAnalysis.unigramTrainWithStats]]
  * (vocabSize = 64, maxPieceLen = 4, 4 Viterbi-EM rounds — converged
  * after round 2: total corpus cost 342 635 053 → 315 565 464 →
  * stable) over the sf0.001 `documents` fixture and frozen here as
  * literals, the [[BpeFixture]] discipline: the segmentation operator
  * is oracle-gated only because the model is a fixed artifact the
  * DuckDB twin can replay (OracleSql generates the unrolled integer
  * Viterbi DP from these constants). Mirrors production shape: a
  * tokenizer trains once, ships as an artifact, and segmentation is
  * the hot-path operator over the 100 TB corpus.
  *
  * Costs are integer MILLI-NATS (round(−1000·ln(count/Σcount))).
  * Note the converged vocabulary DROPPED several single characters
  * ('n' among them — it only ever appears inside kept multi-char
  * pieces like "in"/"indo"/"lumn"/"scan"): standalone occurrences
  * fall back to [[unkCost]], the documented coverage path. Entries
  * sorted by piece. To refreeze, run Round17Spec's "unigramTrain ...
  * converges to the frozen fixture" test: on a drifted vocabulary its
  * failure message prints the trained entries ready to paste here. */
object UnigramFixture {
  val maxPieceLen = 4
  val unkCost = 20000L

  /** (piece, training count, cost in milli-nats). */
  val vocab: Seq[(String, Long, Long)] = Seq(
    ("a", 4612L, 2961L),
    ("al", 1848L, 3875L),
    ("as", 923L, 4570L),
    ("at", 1806L, 3898L),
    ("b", 2703L, 3495L),
    ("c", 2730L, 3485L),
    ("co", 978L, 4512L),
    ("d", 1900L, 3848L),
    ("e", 6489L, 2619L),
    ("er", 1892L, 3852L),
    ("f", 1830L, 3885L),
    ("g", 4665L, 2949L),
    ("h", 3666L, 3190L),
    ("i", 1807L, 3898L),
    ("in", 1882L, 3857L),
    ("indo", 976L, 4514L),
    ("j", 936L, 4556L),
    ("k", 1855L, 3872L),
    ("l", 4585L, 2967L),
    ("lumn", 978L, 4512L),
    ("m", 1817L, 3892L),
    ("mer", 1824L, 3888L),
    ("o", 1825L, 3888L),
    ("or", 2880L, 3432L),
    ("ow", 1787L, 3909L),
    ("p", 963L, 4527L),
    ("par", 1873L, 3862L),
    ("q", 934L, 4558L),
    ("r", 2719L, 3489L),
    ("ro", 934L, 4558L),
    ("s", 3703L, 3180L),
    ("scan", 984L, 4506L),
    ("st", 2721L, 3488L),
    ("t", 4695L, 2943L),
    ("ta", 903L, 4591L),
    ("u", 1852L, 3873L),
    ("ue", 1884L, 3856L),
    ("v", 1881L, 3858L),
    ("w", 1952L, 3821L),
    ("y", 1879L, 3859L))

  def pieces: Seq[String] = vocab.map(_._1)
  def costs: Seq[Long] = vocab.map(_._3)
}
