package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SentencePiece-style UNIGRAM-LM tokenizer step (Kudo 2018): seed a
  * substring vocabulary from the corpus, Viterbi-segment every distinct
  * word under the unigram model, and take one EM count step over the
  * best segmentations — the tokenizer-training primitive beyond the BPE
  * loop in [[TextAnalysis]] (`q_bpe_step` / `q_bpe_merges` learn merges
  * bottom-up; the unigram model starts from a large candidate vocab and
  * scores whole segmentations top-down).
  *
  * Exactness design: piece log-probs are quantized to MICRO-log units
  * (`round(ln(freq/total)·1e6)` as BIGINT) so every Viterbi score is an
  * exact integer sum — no float-order ambiguity between engines — and
  * score ties break on the lexicographically-least piece-id sequence,
  * which is prefix-compositional (two distinct paths to the same
  * position always differ at some id, so extending preserves order) and
  * therefore computable by the DP and reproducible by the oracle's
  * exhaustive path enumeration.
  *
  * Scale shape: substring generation, vocab cap, and Viterbi all run
  * over the DISTINCT-WORD table (vocab-sized, not corpus-sized) with
  * corpus frequencies as weights — the corpus contributes one
  * frequency-counting shuffle. The vocabulary (≤ `vocabCap` + alphabet)
  * is collect-and-broadcast, the standard bounded-artifact pattern; the
  * per-word DP is O(len·maxPiece) in a narrow mapPartitions.
  */
object UnigramLM {

  val MaxPieceLen = 4

  /** (piece → (id, logp_micro)) plus the word-frequency table. */
  private def buildModel(spark: SparkSession, dir: String, vocabCap: Int,
                         minFreq: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val words = Tables.fanOut(Tables.documents(spark, dir).select("doc_id", "text"))
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wfreq"))
    // candidate pieces: every substring of length 1..MaxPieceLen of every
    // distinct word, weighted by the word's corpus frequency
    val subs = words.as[(String, Long)].flatMap { case (w, f) =>
      for {
        l <- 1 to math.min(MaxPieceLen, w.length)
        i <- 0 to w.length - l
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "f")
      .groupBy("piece").agg(sum(col("f")).as("freq"))
    // vocab: ALL single chars (coverability guarantee) + the top multi-
    // char pieces by (freq desc, piece asc) clearing minFreq
    val singles = subs.filter(length(col("piece")) === 1)
    val multis = subs.filter(length(col("piece")) > 1 && col("freq") >= minFreq)
      .orderBy(desc("freq"), asc("piece")).limit(vocabCap)
    val vocab = singles.unionByName(multis)
    // total over the selected vocab; micro-log quantization makes every
    // downstream score an exact integer
    val total = vocab.agg(sum(col("freq"))).as[Long].head()
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("piece"))
    val model = vocab
      .withColumn("id", row_number().over(w))
      .withColumn("logp_u",
        round(log(col("freq").cast("double") / total) * 1e6).cast("long"))
    (words, model)
  }

  /** Viterbi-best segmentation per distinct word: (word, wfreq,
    * score_micro, n_pieces, segmentation) with pieces joined on ' ' —
    * the word separator itself, which BY CONSTRUCTION cannot occur
    * inside a word (words come from splitting text on ' '), so the
    * join/split round-trip is unambiguous for any corpus content. */
  def viterbiSegment(spark: SparkSession, dir: String, vocabCap: Int = 500,
                     minFreq: Long = 2L): DataFrame = {
    import spark.implicits._
    val (words, model) = buildModel(spark, dir, vocabCap, minFreq)
    // bounded artifact → broadcast (vocabCap + alphabet entries)
    val pieces: Map[String, (Int, Long)] = model
      .select("piece", "id", "logp_u").as[(String, Int, Long)]
      .collect().map { case (p, i, l) => p -> (i, l) }.toMap
    val bc = spark.sparkContext.broadcast(pieces)
    words.as[(String, Long)].mapPartitions { it =>
      val vocab = bc.value
      it.map { case (word, wfreq) =>
        // DP state per position: (score, idSeq, pieceSeq); idSeq compared
        // lexicographically on ties — prefix-compositional, see header
        val n = word.length
        val best = new Array[(Long, List[Int], List[String])](n + 1)
        best(0) = (0L, Nil, Nil)
        var i = 1
        while (i <= n) {
          var cand: (Long, List[Int], List[String]) = null
          var l = 1
          while (l <= math.min(MaxPieceLen, i)) {
            if (best(i - l) != null) {
              vocab.get(word.substring(i - l, i)) match {
                case Some((id, lp)) =>
                  val prev = best(i - l)
                  val c = (prev._1 + lp, prev._2 :+ id, prev._3 :+ word.substring(i - l, i))
                  if (cand == null || c._1 > cand._1 ||
                    (c._1 == cand._1 && lexLess(c._2, cand._2))) cand = c
                case None =>
              }
            }
            l += 1
          }
          best(i) = cand
          i += 1
        }
        val (score, ids, segs) = best(n)
        (word, wfreq, score, ids.length.toLong, segs.mkString(" "))
      }
    }.toDF("word", "wfreq", "score_micro", "n_pieces", "segmentation")
  }

  private def lexLess(a: List[Int], b: List[Int]): Boolean = {
    var x = a; var y = b
    while (x.nonEmpty && y.nonEmpty) {
      if (x.head != y.head) return x.head < y.head
      x = x.tail; y = y.tail
    }
    x.isEmpty && y.nonEmpty
  }

  /** One EM COUNT step over the Viterbi segmentations: per piece, its
    * corpus-weighted usage and normalized share — the statistics the
    * M-step re-estimates probabilities from. */
  def emStep(spark: SparkSession, dir: String, vocabCap: Int = 500,
             minFreq: Long = 2L): DataFrame = {
    val seg = viterbiSegment(spark, dir, vocabCap, minFreq)
    val uses = seg
      // split("", " ") yields [""], so an empty word (consecutive
      // spaces produce one) would inject a phantom '' piece with weight
      // wfreq — its segmentation is empty BY DEFINITION (n_pieces = 0),
      // so it must contribute nothing to the EM statistics
      .filter(col("segmentation") =!= "")
      .select(col("wfreq"), explode(split(col("segmentation"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("wfreq")).as("uses"))
    val totalUses = uses.agg(sum(col("uses")).cast("double").as("t"))
    uses.crossJoin(broadcast(totalUses))
      .select(col("piece"), col("uses"),
        round(col("uses").cast("double") / col("t"), 6).as("em_share"))
      .orderBy(desc("uses"), asc("piece"))
  }

  private def oracleModelCtes(vocabCap: Int, minFreq: Long): String =
    s"""words AS (SELECT word, count(*) AS wfreq
                  FROM (SELECT unnest(string_split(text, ' ')) AS word
                        FROM documents) t
                  GROUP BY word),
       subs AS (SELECT substr(word, i, l) AS piece, sum(wfreq) AS freq
                FROM words,
                     unnest(range(1, length(word) + 1)) AS ti(i),
                     unnest(range(1, $MaxPieceLen + 1)) AS tl(l)
                WHERE i + l - 1 <= length(word)
                GROUP BY 1),
       vocab AS (SELECT piece, freq FROM subs WHERE length(piece) = 1
                 UNION ALL
                 SELECT piece, freq FROM (
                   SELECT piece, freq FROM subs
                   WHERE length(piece) > 1 AND freq >= $minFreq
                   ORDER BY freq DESC, piece ASC LIMIT $vocabCap) t),
       tot AS (SELECT sum(freq) AS total FROM vocab),
       model AS (SELECT piece,
                        row_number() OVER (ORDER BY piece ASC) AS id,
                        CAST(round(ln(CAST(freq AS DOUBLE) / total) * 1e6)
                             AS BIGINT) AS logp_u
                 FROM vocab, tot),
       paths AS (
         SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score,
                CAST([] AS INTEGER[]) AS ids, '' AS seg
         FROM words
         UNION ALL
         SELECT p.word, p.pos + length(m.piece), p.score + m.logp_u,
                list_append(p.ids, CAST(m.id AS INTEGER)),
                CASE WHEN p.pos = 0 THEN m.piece
                     ELSE p.seg || ' ' || m.piece END
         FROM paths p JOIN model m
           ON substr(p.word, p.pos + 1, length(m.piece)) = m.piece),
       bestseg AS (
         SELECT word, score, ids, seg FROM (
           SELECT p.word, p.score, p.ids, p.seg,
                  row_number() OVER (PARTITION BY p.word
                    ORDER BY p.score DESC, p.ids ASC) AS rn
           FROM paths p JOIN words w ON p.word = w.word
           WHERE p.pos = length(p.word)) t
         WHERE rn = 1)"""

  /** DuckDB oracle for [[viterbiSegment]] — EXHAUSTIVE segmentation
    * enumeration via a recursive CTE (bounded: pieces ≤ $MaxPieceLen
    * chars over vocab-length words), then the identical
    * (score desc, id-sequence asc) argmax. The Spark side never
    * enumerates — agreement proves the DP optimal and the tie-break
    * consistent. */
  def viterbiSegmentOracleSql(vocabCap: Int = 500, minFreq: Long = 2L): String =
    s"""WITH RECURSIVE ${oracleModelCtes(vocabCap, minFreq)}
       SELECT b.word, w.wfreq, b.score AS score_micro,
              CAST(len(b.ids) AS BIGINT) AS n_pieces, b.seg AS segmentation
       FROM bestseg b JOIN words w ON b.word = w.word
       ORDER BY b.word"""

  /** DuckDB oracle for [[emStep]]. */
  def emStepOracleSql(vocabCap: Int = 500, minFreq: Long = 2L): String =
    s"""WITH RECURSIVE ${oracleModelCtes(vocabCap, minFreq)},
       uses AS (SELECT unnest(string_split(b.seg, ' ')) AS piece,
                       w.wfreq
                FROM bestseg b JOIN words w ON b.word = w.word
                WHERE b.seg <> ''),
       agg AS (SELECT piece, CAST(sum(wfreq) AS BIGINT) AS uses
               FROM uses GROUP BY piece),
       t AS (SELECT CAST(sum(uses) AS DOUBLE) AS total FROM agg)
       SELECT piece, uses, round(uses / total, 6) AS em_share
       FROM agg, t ORDER BY uses DESC, piece ASC"""
}
