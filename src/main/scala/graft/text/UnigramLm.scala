package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer induction + Viterbi corpus encode — the
  * SentencePiece family's other half (Kudo, ACL 2018, arXiv:1804.10959):
  * where BPE ([[BpeMerge]]) grows a vocabulary bottom-up by merging, the
  * unigram model starts from a large seed piece inventory and
  * iteratively re-estimates piece probabilities, segmenting each word
  * into the pieces that maximize total log-probability.
  *
  * VARIANT PINNED HERE: hard (Viterbi) EM — the E-step counts pieces in
  * each word's single BEST segmentation rather than expectation over
  * all segmentations. Kudo's soft E-step needs forward–backward
  * logsumexp (transcendental per lattice node — unhashable across
  * engines); Viterbi-EM is the standard hard-assignment variant and
  * keeps the entire loop in EXACT integer micro-nats: scores are
  * floor(ln((cnt+1)/(T+N))·1e6) longs (the [[NgramLm]] micro-nat
  * convention, add-one smoothed so a zero-count piece never hits
  * ln 0), path totals are long sums, and the DP argmax breaks ties
  * deterministically (highest total, then longest piece = smallest
  * start). Both engines replay the identical recurrence, so the merge
  * tables hash exactly.
  *
  * Inventory discipline: single-character pieces are NEVER pruned
  * (every word stays segmentable — sentencepiece's required-char rule);
  * multi-char pieces keep the top `vocabExtra` by (count desc, piece
  * asc) with count ≥ 1.
  *
  * Scale shape (the BPE learnState discipline): ONE corpus-sized
  * aggregation up front (word frequencies); every EM iteration touches
  * only the VOCABULARY (w, freq) — the Viterbi DP is ONE compiled
  * Catalyst expression per word ([[graft.functions.ViterbiSegment]],
  * whole-stage codegen) carrying the config-sized piece model (chars +
  * top-K) as a reference object, exactly the payload a broadcast hash
  * join would ship; the M-step re-count is one piece-keyed aggregation
  * of the vocab's segment lists, collected config-sized and re-scored
  * on the driver (the BpeMerge merge-table discipline). The corpus is
  * touched exactly once more at encode (explode → word-key equi-join
  * against the segmented vocab → per-doc agg).
  *
  * r15 optimization note: the DP previously ran as composed
  * higher-order `aggregate` folds (CodegenFallback) over a lattice-
  * edge explode + broadcast join + per-word collect_list shuffle, all
  * repeated per EM iteration — measured 60-70% of every unigram-family
  * query at sf0.1. The compiled expression replays the identical
  * recurrence (tie-breaks and all — ViterbiSegmentExprSpec pins parity
  * on the registered corpus), and the lattice join + collect_list
  * shuffle are gone outright: an EM iteration is now ONE vocab-sized
  * aggregation job.
  *
  * Envelope: a DP path total is ≤ wordLen · ceil(ln(T+N)·10⁶)
  * micro-nats — exact in long for 2¹⁶-char words at T ≤ 10¹⁸ corpus
  * tokens (graft.tools.NumericEnvelopes pins the bound). */
object UnigramLm {

  import TextOps.tokens

  /** Word-frequency table (w, freq) — the bounded table every
    * iteration runs on. */
  private[text] def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Seed counts: every substring of length 1..maxPieceLen of every
    * word, weighted by word frequency (overlapping occurrences all
    * count). Map-side explode + one piece-keyed aggregation. */
  private[text] def seedCounts(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, least($maxPieceLen, length(w))),
           l -> transform(sequence(0, length(w) - l),
           j -> substr(w, j + 1, l))))""")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** One scored piece of the driver-local model. */
  private[graft] final case class Piece(piece: String, cnt: Long,
      scoreMicro: Long)

  /** Learned model: the config-sized piece list (driver-local, the
    * BpeMerge merge-table discipline), the persisted word-frequency
    * frame every consumer re-segments against, and the cache release
    * handle. */
  private[graft] final case class LearnedModel(pieces: Seq[Piece],
      words: DataFrame, release: () => Unit) {
    def scores: java.util.HashMap[String, java.lang.Long] =
      graft.functions.ViterbiSegment.buildScores(
        pieces.map(p => p.piece -> p.scoreMicro))
  }

  /** score_micro = floor(ln((cnt+1)/(T+N))·1e6) with T = Σ kept
    * counts, N = kept pieces — add-one smoothing, micro-nat longs.
    * Driver-local twin of the former crossJoin(broadcast(totals))
    * rescore: one IEEE division, one ln, one multiply, one binary
    * floor — bit-identical on every engine. */
  private def scoreLocal(kept: Seq[(String, Long)]): Seq[Piece] = {
    val t = kept.iterator.map(_._2).sum
    val n = kept.size.toLong
    kept.map { case (p, c) =>
      Piece(p, c, math.floor(math.log((c + 1).toDouble /
        (t + n).toDouble) * 1e6).toLong)
    }
  }

  /** Prune + score on a driver-local count table (config-sized: the
    * previous model's pieces): all single-char pieces survive
    * regardless of count; multi-char pieces keep the top `vocabExtra`
    * by (cnt desc, piece asc — UTF-8 byte order) with cnt ≥ 1. */
  private def pruneLocal(counts: Seq[(String, Long)],
      vocabExtra: Int): Seq[Piece] = {
    val (chars, multiAll) = counts.partition(
      p => p._1.codePointCount(0, p._1.length) == 1)
    val multi = multiAll.filter(_._2 >= 1L)
      .sortWith((x, y) =>
        x._2 > y._2 || (x._2 == y._2 && graft.Utf8Order.lt(x._1, y._1)))
      .take(vocabExtra)
    scoreLocal(chars ++ multi)
  }

  /** Seed model: the distributed seed-count aggregation pruned in
    * Spark (the substring table is vocab-substring-sized — too big to
    * collect wholesale at scale), then scored locally. Single-char
    * pieces collect in full; multi-char pieces via TakeOrdered top-K —
    * identical (cnt desc, piece asc) semantics as before. */
  private[text] def seedModel(words: DataFrame, maxPieceLen: Int,
      vocabExtra: Int): Seq[Piece] = {
    val counts = seedCounts(words, maxPieceLen).persist()
    val chars = counts.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val multi = counts
      .filter(length(col("piece")) > 1 && col("cnt") >= 1)
      .orderBy(col("cnt").desc, col("piece")).limit(vocabExtra)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    counts.unpersist(blocking = false)
    scoreLocal(chars ++ multi)
  }

  /** The full learn loop: seed → score → `iters` × (compiled-Viterbi
    * E-step → one vocab-keyed re-count aggregation → local prune +
    * rescore M-step). */
  private[graft] def learnState(docs: DataFrame, textCol: String,
      maxPieceLen: Int, vocabExtra: Int, iters: Int): LearnedModel = {
    require(iters >= 1, "iters >= 1")
    val words = wordFreqs(docs, textCol).persist()
    words.count()
    var pieces = seedModel(words, maxPieceLen, vocabExtra)
    for (_ <- 1 to iters) {
      val scores = graft.functions.ViterbiSegment.buildScores(
        pieces.map(p => p.piece -> p.scoreMicro))
      val counts = words.select(col("freq"), explode(
          graft.functions.ViterbiSegment.viterbiPieces(col("w"), scores,
            maxPieceLen)).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // LEFT-join semantics of the former M-step: every piece of the
      // previous model survives to the prune with its (possibly zero)
      // re-count; pieces the E-step never used carry cnt 0
      pieces = pruneLocal(
        pieces.map(p => (p.piece, counts.getOrElse(p.piece, 0L))),
        vocabExtra)
    }
    LearnedModel(pieces, words,
      () => { words.unpersist(blocking = false); () })
  }

  /** Learned piece table after `iters` hard-EM iterations:
    * (piece, cnt, score_micro). */
  def learn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      vocabExtra: Int = 60, iters: Int = 2): DataFrame = {
    val st = learnState(docs, textCol, maxPieceLen, vocabExtra, iters)
    val sp = docs.sparkSession
    import sp.implicits._
    val out = st.pieces.map(p => (p.piece, p.cnt, p.scoreMicro))
      .toDF("piece", "cnt", "score_micro")
    st.release()
    out
  }

  /** Corpus-scale Viterbi ENCODE under the learned model: per doc
    * (n_words, n_pieces, n_chars) — the unigram twin of
    * [[BpeMerge.encodeCorpus]]. The vocabulary is segmented ONCE
    * (vocab-sized DP); the corpus is touched once: explode to
    * (doc_id, w), equi-join the segmented vocab on the word key, one
    * per-doc aggregation. Docs with no tokens produce no row. */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int = 4, vocabExtra: Int = 60,
      iters: Int = 2): DataFrame = {
    val st = learnState(docs, textCol, maxPieceLen, vocabExtra, iters)
    val segged = st.words.select(col("w"),
      size(graft.functions.ViterbiSegment.viterbiPieces(col("w"),
        st.scores, maxPieceLen)).cast("long").as("n_pieces"))
    val corpusWords = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("w"))
    val out = corpusWords.join(segged, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("w"))).as("n_chars"))
      .localCheckpoint(eager = true)
    st.release()
    out
  }

  /** Plain-Scala Viterbi piece count for ONE word under a score map —
    * the streaming-side segmenter ([[graft.streaming.Streams
    * .streamingTokenMeter]] folds it per arriving doc, where the
    * column DP has no vocabulary to batch over). IDENTICAL recurrence
    * and tie-break as [[viterbiSegment]] (highest total, then smallest
    * start j — the ascending-j scan accepts only strict improvements,
    * which keeps the smallest-j argmax); parity is spec-pinned against
    * the batch encode. Returns -1 for a word the model cannot segment
    * (a character outside the training inventory — the streaming OOV
    * case the batch encode's vocab join silently drops). */
  def viterbiPieceCount(w: String, scores: collection.Map[String, Long],
      maxPieceLen: Int): Long = {
    val n = w.length
    if (n == 0) return 0L
    val NEG = Long.MinValue
    val best = Array.fill(n + 1)(NEG)
    val bp = new Array[Int](n + 1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) != NEG) {
          val s = scores.getOrElse(w.substring(j, i), Long.MinValue)
          if (s != Long.MinValue && best(j) + s > best(i)) {
            best(i) = best(j) + s
            bp(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) == NEG) return -1L
    var pos = n
    var count = 0L
    while (pos > 0) { count += 1L; pos = bp(pos) }
    count
  }

  // -- oracle SQL generator (seeded-unroll, BpeMerge.iterCtes style) ----

  /** WITH RECURSIVE chain ending in `ps$iters` (piece, cnt,
    * score_micro): seed counts, then per iteration — lattice edges
    * against the previous piece table, the forward DP as a recursive
    * CTE carrying (best, bp) lists, the backtrace as a second
    * recursion, piece re-counts, prune + rescore. */
  private def pruneScoreCtes(t: Int, src: String, vocabExtra: Int): String =
    s"""k$t AS (SELECT piece, cnt FROM $src WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM $src WHERE len(piece) > 1 AND cnt >= 1
       |    ORDER BY cnt DESC, piece LIMIT $vocabExtra) q$t),
       |tt$t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS T,
       |    CAST(COUNT(*) AS BIGINT) AS N FROM k$t),
       |ps$t AS (SELECT piece, cnt,
       |    CAST(FLOOR(ln(CAST(cnt + 1 AS DOUBLE)
       |      / CAST(tt.T + tt.N AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      AS score_micro
       |  FROM k$t, tt$t tt)""".stripMargin

  /** One Viterbi pass (edges → forward DP → backtrace → segments)
    * against piece table ps$prev, CTEs suffixed $t, ending in
    * `seg$t(w, pieces)`. private[graft]: [[UnigramPrune]]'s oracle
    * replays one pass against the seed table.
    *
    * The forward DP carries each word's FULL scored edge list in its
    * recursion state and argmaxes it with list lambdas — a recursive
    * member that referenced the edge CTE would re-evaluate the whole
    * upstream learn chain on EVERY iteration (DuckDB inlines CTE
    * references), which measured ~10-40x the total oracle cost at
    * sf0.01 (r15: q_t_unigram_encode 172 s → seconds). */
  private[graft] def viterbiCtes(t: Int, prev: Int, maxPieceLen: Int): String =
    s"""e$t AS (SELECT x.w, x.j, x.i, p.score_micro AS score
       |  FROM (SELECT s.w AS w, CAST(j.j AS BIGINT) AS j,
       |          CAST(j.j + l.l AS BIGINT) AS i,
       |          substr(s.w, CAST(j.j AS INT) + 1, CAST(l.l AS INT)) AS piece
       |        FROM w0 s,
       |          LATERAL (SELECT unnest(range(1,
       |            least($maxPieceLen, len(s.w)) + 1)) AS l) l,
       |          LATERAL (SELECT unnest(range(len(s.w) - l.l + 1)) AS j) j
       |       ) x
       |  JOIN ps$prev p ON p.piece = x.piece),
       |el$t AS (SELECT w,
       |    list(struct_pack(j := j, i := i, s := score)) AS edges
       |  FROM e$t GROUP BY w),
       |v$t AS (
       |  SELECT w0.w AS w, 0 AS i, [CAST(0 AS BIGINT)] AS best,
       |         [CAST(0 AS BIGINT)] AS bp, el.edges AS edges
       |  FROM w0 JOIN el$t el ON el.w = w0.w
       |  UNION ALL
       |  SELECT v.w, v.i + 1 AS i,
       |    list_append(v.best, mx.t) AS best,
       |    list_append(v.bp, mx.j) AS bp,
       |    v.edges AS edges
       |  FROM v$t v,
       |  LATERAL (SELECT list_filter(v.edges,
       |      e -> e.i = v.i + 1) AS cands) c0,
       |  LATERAL (SELECT list_max(list_transform(c0.cands,
       |      e -> v.best[CAST(e.j AS INT) + 1] + e.s)) AS t) c1,
       |  LATERAL (SELECT c1.t AS t, list_min(list_transform(
       |      list_filter(c0.cands,
       |        e -> v.best[CAST(e.j AS INT) + 1] + e.s = c1.t),
       |      e -> e.j)) AS j) mx
       |  WHERE v.i < len(v.w)),
       |vf$t AS (SELECT w, best, bp FROM v$t WHERE i = len(w)),
       |b$t AS (
       |  SELECT w, CAST(len(w) AS BIGINT) AS pos, bp,
       |         CAST([] AS VARCHAR[]) AS pieces
       |  FROM vf$t
       |  UNION ALL
       |  SELECT w, bp[CAST(pos AS INT) + 1] AS pos, bp,
       |    list_append(pieces, substr(w,
       |      CAST(bp[CAST(pos AS INT) + 1] AS INT) + 1,
       |      CAST(pos AS INT) - CAST(bp[CAST(pos AS INT) + 1] AS INT)))
       |  FROM b$t WHERE pos > 0),
       |seg$t AS (SELECT w, pieces FROM b$t WHERE pos = 0)""".stripMargin

  /** The learn chain's SEED prefix — word freqs (w0), seed counts
    * (sc0), seed piece table (ps0). private[graft]: [[UnigramPrune]]'s
    * oracle prunes directly off the seed model. */
  private[graft] def seedCtes(maxPieceLen: Int, vocabExtra: Int): String =
    s"""w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
       |          x -> x <> '')) AS w FROM documents)
       |  GROUP BY w),
       |sc0 AS (SELECT substr(s.w, CAST(j.j AS INT) + 1, CAST(l.l AS INT))
       |      AS piece,
       |    CAST(SUM(s.freq) AS BIGINT) AS cnt
       |  FROM w0 s,
       |    LATERAL (SELECT unnest(range(1,
       |      least($maxPieceLen, len(s.w)) + 1)) AS l) l,
       |    LATERAL (SELECT unnest(range(len(s.w) - l.l + 1)) AS j) j
       |  GROUP BY 1),
       |${pruneScoreCtes(0, "sc0", vocabExtra)}""".stripMargin

  private def learnCtes(maxPieceLen: Int, vocabExtra: Int,
      iters: Int): String = {
    val iterBlocks = (1 to iters).map { t =>
      s"""${viterbiCtes(t, t - 1, maxPieceLen)},
         |c$t AS (SELECT u.piece, CAST(SUM(w0.freq) AS BIGINT) AS cnt
         |  FROM (SELECT w, unnest(pieces) AS piece FROM seg$t) u
         |  JOIN w0 ON u.w = w0.w GROUP BY 1),
         |cf$t AS (SELECT p.piece, COALESCE(c$t.cnt, CAST(0 AS BIGINT))
         |    AS cnt
         |  FROM (SELECT piece FROM ps${t - 1}) p
         |  LEFT JOIN c$t ON p.piece = c$t.piece),
         |${pruneScoreCtes(t, s"cf$t", vocabExtra)}""".stripMargin
    }.mkString(",\n")
    s"""${seedCtes(maxPieceLen, vocabExtra)},
       |$iterBlocks""".stripMargin
  }

  private[text] def oracleSql(maxPieceLen: Int, vocabExtra: Int,
      iters: Int): String =
    s"""WITH RECURSIVE ${learnCtes(maxPieceLen, vocabExtra, iters)}
       |SELECT piece, cnt, score_micro FROM ps$iters
       |ORDER BY piece""".stripMargin

  private[text] def encodeOracleSql(maxPieceLen: Int, vocabExtra: Int,
      iters: Int): String = {
    val enc = iters + 1
    s"""WITH RECURSIVE ${learnCtes(maxPieceLen, vocabExtra, iters)},
       |${viterbiCtes(enc, iters, maxPieceLen)},
       |encw AS (SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(list_filter(
       |          string_split(text, ' '), x -> x <> '')) AS w
       |        FROM documents)),
       |nsg AS (SELECT w, CAST(len(pieces) AS BIGINT) AS n_pieces
       |  FROM seg$enc)
       |SELECT e.doc_id AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(len(e.w)) AS BIGINT) AS n_chars
       |FROM encw e JOIN nsg s ON e.w = s.w
       |GROUP BY e.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** The learn+encode CTE prefix ending in `enc(doc_id, n_tokens)` —
    * the composition surface for downstream oracles
    * ([[graft.pipeline.TokenizerPipeline]]'s unigram leg). The caller
    * must open with `WITH RECURSIVE` (the Viterbi CTEs recurse). */
  private[graft] def encodePrefixCtes(maxPieceLen: Int, vocabExtra: Int,
      iters: Int): String = {
    val enc = iters + 1
    s"""${learnCtes(maxPieceLen, vocabExtra, iters)},
       |${viterbiCtes(enc, iters, maxPieceLen)},
       |encw AS (SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(list_filter(
       |          string_split(text, ' '), x -> x <> '')) AS w
       |        FROM documents)),
       |nsg AS (SELECT w, CAST(len(pieces) AS BIGINT) AS n_pieces
       |  FROM seg$enc),
       |enc AS (SELECT e.doc_id,
       |    CAST(SUM(s.n_pieces) AS BIGINT) AS n_tokens
       |  FROM encw e JOIN nsg s ON e.w = s.w
       |  GROUP BY e.doc_id)""".stripMargin
  }

  /** q_t_unigram_lm: the learned piece table after 2 hard-EM
    * iterations (maxPieceLen 4, top-60 multi-char pieces). */
  private val tUnigram = Q(
    (s, d) => learn(Tables.documents(s, d), "text").orderBy("piece"),
    Some(oracleSql(4, 60, 2)))

  /** q_t_unigram_encode: per-doc Viterbi piece counts under the
    * learned model — the encode half of the lifecycle. */
  private val tUnigramEncode = Q(
    (s, d) => encodeCorpus(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(encodeOracleSql(4, 60, 2)))

  val queries: Map[String, Q] = Map(
    "q_t_unigram_lm" -> tUnigram,
    "q_t_unigram_encode" -> tUnigramEncode)
}
