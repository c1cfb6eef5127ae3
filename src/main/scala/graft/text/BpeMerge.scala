package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge induction — learning the first `nMerges` byte-pair
  * merges of a tokenizer over the corpus (Sennrich et al.,
  * arXiv:1508.07909): start from characters, repeatedly (1) count adjacent
  * symbol pairs, (2) take the most frequent pair (ties → lexicographically
  * smallest), (3) merge its occurrences greedily LEFT-TO-RIGHT in every
  * word.
  *
  * Scale shape (the classic one): all counting runs on the WORD-FREQUENCY
  * table, not the corpus — one corpus-sized aggregation up front
  * (`groupBy word`), after which every iteration touches only the
  * vocabulary (bounded: ~millions of rows at any corpus size). Pair
  * counting is one explode + hash aggregation per iteration, weighted by
  * word frequency; the argmax is a 1-row limit; the merge application is a
  * per-word fold expression. The chosen pair is a CONFIG value (2 strings),
  * so collecting it to the driver is the k-row config pattern, not a
  * data-sized collect.
  */
object BpeMerge {

  import TextOps.tokens

  /** Greedy left-to-right merge of adjacent (x, y) into x||y with a
    * one-symbol lookbehind: `pend` holds the previous symbol until we
    * know whether the current one completes the pair; after a merge the
    * pending slot clears, so overlapping occurrences (x = y, runs like
    * "bbb") merge exactly as BPE does: [bb, b].
    *
    * Runs as the codegen'd [[graft.functions.BpeMergeFold]] expression:
    * [[graft.tools.BpeVocabBench]] measured the composed `aggregate` fold
    * at ~62% of a BPE iteration on a 10⁶-word vocab (CodegenFallback
    * lambda + two array re-allocations per symbol), which tripped the
    * port-to-codegen trigger. [[applyMergeComposed]] keeps the fold for
    * the randomized equivalence spec. */
  private[text] def applyMerge(syms: Column, x: String, y: String): Column =
    graft.functions.BpeMergeFold.merge(syms, x, y)

  /** The original higher-order-function formulation of [[applyMerge]] —
    * CodegenFallback, kept as the independent semantic reference the spec
    * checks the codegen'd expression against. */
  private[text] def applyMergeComposed(syms: Column, x: String,
      y: String): Column = {
    val init = struct(array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(syms, init,
      (acc, s) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        val merged = pend.isNotNull && pend === lit(x) && (s === lit(y))
        struct(
          when(pend.isNull, out)
            .when(merged, concat(out, array(concat(pend, s))))
            .otherwise(concat(out, array(pend))).as("out"),
          when(merged, lit(null).cast("string")).otherwise(s).as("pend"))
      },
      acc => when(acc.getField("pend").isNotNull,
        concat(acc.getField("out"), array(acc.getField("pend"))))
        .otherwise(acc.getField("out")))
  }

  /** [[applyMerge]] / [[applyMergeComposed]] for callers outside the
    * package ([[graft.tools.BpeVocabBench]]'s vocab-scale measurement). */
  def applyMergeCol(syms: Column, x: String, y: String): Column =
    applyMerge(syms, x, y)
  def applyMergeComposedCol(syms: Column, x: String, y: String): Column =
    applyMergeComposed(syms, x, y)

  /** Adjacent-pair frame (x, y, cnt) of the current symbol table, weighted
    * by word frequency. Single-symbol words contribute nothing (the
    * sequence guard keeps `sequence` from going descending on size-1
    * arrays). */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(
        when(size(col("syms")) >= 2,
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("x"),
              element_at(col("syms"), i + 2).as("y"))))
          .otherwise(array().cast("array<struct<x:string,y:string>>")))
        .as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum("freq").as("cnt"))

  /** The learn loop's full state: the ranked merge list AND the final
    * symbol table (w, freq, syms) — i.e. the vocabulary ENCODED under
    * those merges (each learn iteration's application pass doubles as the
    * encode pass; they cannot diverge). The returned frame is persisted
    * (fast path: a local relation — unpersist is a no-op); the caller
    * owns the unpersist.
    *
    * Driver-local fast path (r16, the [[graft.text.UnigramLm.learnState]]
    * model discipline + the [[graft.dedup.DupClusters]] measured gate):
    * every merge iteration reads and writes ONLY the word-frequency
    * vocabulary, so when the MEASURED vocab size fits under `maxVocab`
    * the whole loop runs driver-side — pair counts, the (cnt desc, x, y)
    * argmax in UTF-8 byte order (Spark's string ordering), and the greedy
    * fold — eliminating the per-merge TakeOrdered job + full-vocab
    * persist/count/unpersist churn (2 jobs + cache turnover per merge).
    * The symbol split stays IN SPARK (`split(w, "")` collected with the
    * vocab) so the driver never re-implements its code-point semantics.
    * Past the gate the original per-merge distributed loop runs
    * unchanged; at 100 TB a vocabulary above 2²⁰ words keeps it. */
  private[text] def learnState(docs: DataFrame, textCol: String,
      nMerges: Int, maxVocab: Int = 1 << 20)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, "nMerges >= 1")
    val words0 = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("w"), ""))
    val collected = graft.DriverGate.collect(words0, maxVocab).orNull
    if (collected != null) {
      var vocab: Array[(String, Long, Array[String])] = collected.map(r =>
        (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray))
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      var rank = 1
      while (rank <= nMerges) {
        val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (_, freq, syms) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            cnt.update(k, cnt.getOrElse(k, 0L) + freq)
            i += 1
          }
        }
        if (cnt.isEmpty) rank = nMerges + 1 // no pairs left anywhere
        else {
          val ((x, y), c) = cnt.reduceLeft { (a, b) =>
            if (b._2 > a._2 ||
                (b._2 == a._2 && (graft.Utf8Order.lt(b._1._1, a._1._1) ||
                  (b._1._1 == a._1._1 && graft.Utf8Order.lt(b._1._2, a._1._2))))) b
            else a
          }
          merges += ((rank.toLong, x, y, c))
          // greedy left-to-right with one-symbol lookbehind — the
          // BpeMergeFold recurrence (spec-pinned against it)
          vocab = vocab.map { case (w, freq, syms) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var pend: String = null
            syms.foreach { s =>
              if (pend != null && pend == x && s == y) {
                out += pend + s; pend = null
              } else {
                if (pend != null) out += pend
                pend = s
              }
            }
            if (pend != null) out += pend
            (w, freq, out.toArray)
          }
          rank += 1
        }
      }
      val spark = docs.sparkSession
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(vocab.toSeq.map { case (w, f, s) =>
          org.apache.spark.sql.Row(w, f, s.toSeq) }, 1), words0.schema)
      (merges.toSeq, out)
    } else learnStateDistributed(words0, nMerges)
  }

  /** The original per-merge distributed loop — the over-gate path and the
    * parity reference ([[graft.text.BpeMergeSpec]] pins the fast path
    * against it). */
  private[text] def learnStateDistributed(words0: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    var words = words0.persist()
    words.count() // materialize before the loop reuses it
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1
    while (rank <= nMerges) {
      val best = pairCounts(words)
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1).collect()
      if (best.isEmpty) { rank = nMerges + 1 } // no pairs left anywhere
      else {
        val (x, y, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((rank.toLong, x, y, c))
        val next = words
          .withColumn("syms", applyMerge(col("syms"), x, y)).persist()
        next.count()
        words.unpersist(blocking = false)
        words = next
        rank += 1
      }
    }
    (merges.toSeq, words)
  }

  /** Learn `nMerges` merges over the whitespace words of `textCol`.
    * Returns (rank, pair_left, pair_right, pair_count) — the head of the
    * tokenizer's merge list. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = learnState(docs, textCol, nMerges)
    words.unpersist(blocking = false)
    merges.toDF("rank", "pair_left", "pair_right", "pair_count")
  }

  /** Corpus-scale BPE ENCODE under the first `nMerges` learned merges —
    * the other half of the tokenizer lifecycle (learn → encode), and the
    * operator that turns "token budget" knobs ([[graft.etl.DataMix]],
    * [[TextOps.packSequences]]) from whitespace estimates into real BPE
    * counts. Per doc: word count, BPE token count under the merges, and
    * character count.
    *
    * Scale shape: the merges are applied on the VOCABULARY (distinct
    * words — the same bounded table the learn loop iterates; in fact the
    * learn loop's final symbol table IS the encoded vocab, reused here,
    * so encode adds zero extra merge passes). The corpus is touched
    * exactly once more: explode to (doc_id, w), equi-join the encoded
    * vocab on the word key, one per-doc aggregation. Docs with no tokens
    * produce no row (nothing to encode).
    *
    * Returns (frame, release) — the release handle drops the vocab
    * persist once the result is consumed (the repo's Releasable
    * convention). */
  def encodeCorpusReleasable(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): (DataFrame, () => Unit) = {
    val (_, vocab) = learnState(docs, textCol, nMerges)
    val corpusWords = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("w"))
    val out = corpusWords
      .join(vocab.select(col("w"), col("syms")), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_bpe_tokens"),
        sum(length(col("w"))).as("n_chars"))
    (out, () => { vocab.unpersist(blocking = false); () })
  }

  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame =
    encodeCorpusReleasable(docs, idCol, textCol, nMerges)._1

  // -- oracle SQL generator (seeded-unroll, LloydOracleSql style) ---------

  /** DuckDB replay of [[learnMerges]]: per iteration — pair counts over
    * the symbol table, the (cnt DESC, x, y) argmax, then the greedy merge
    * re-derived positionally: match marks, gaps-and-islands run ids, the
    * odd-position-in-run selection (greedy non-overlapping ≡ positions
    * 1,3,5… of each run of consecutive matches), drop the consumed
    * right-hand symbols, stitch lists back in order. */
  private[text] def oracleSql(nMerges: Int): String = {
    val finalRows = (1 to nMerges).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, x AS pair_left, y AS pair_right, cnt AS pair_count FROM b$t")
      .mkString("\n            UNION ALL ")
    s"""WITH ${iterCtes(nMerges)}
       |${finalRows}
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of [[encodeCorpus]]: the same learn-loop chain, then
    * the corpus words joined to the final encoded vocab `s<n>` and
    * aggregated per doc. */
  private[text] def encodeOracleSql(nMerges: Int): String =
    s"""WITH ${iterCtes(nMerges)},
       |enc AS (SELECT doc_id, w
       |        FROM (SELECT doc_id, unnest(list_filter(
       |                string_split(text, ' '), x -> x <> '')) AS w
       |              FROM documents))
       |SELECT e.doc_id AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(length(e.w)) AS BIGINT) AS n_chars
       |FROM enc e JOIN s$nMerges s ON e.w = s.w
       |GROUP BY e.doc_id
       |ORDER BY doc_id""".stripMargin

  /** The learn+encode CTE prefix ending in `enc(doc_id, n_tokens)` — the
    * composition surface for downstream oracles
    * ([[graft.pipeline.TokenizerPipeline]]). */
  private[graft] def encodePrefixCtes(nMerges: Int): String =
    s"""${iterCtes(nMerges)},
       |encw AS (SELECT doc_id, w
       |        FROM (SELECT doc_id, unnest(list_filter(
       |                string_split(text, ' '), x -> x <> '')) AS w
       |              FROM documents)),
       |enc AS (SELECT e.doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_tokens
       |        FROM encw e JOIN s$nMerges s ON e.w = s.w
       |        GROUP BY e.doc_id)""".stripMargin

  private def iterCtes(nMerges: Int): String = {
    def iteration(t: Int): String = {
      val (prev, cur) = (s"s${t - 1}", s"s$t")
      s"""p$t AS (SELECT x, y, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |          syms[CAST(i AS INT) + 1] AS x,
         |          syms[CAST(i AS INT) + 2] AS y
         |        FROM $prev, LATERAL (SELECT unnest(range(len(syms) - 1)) AS i) ii)
         |  GROUP BY x, y),
         |b$t AS (SELECT x, y, cnt FROM p$t ORDER BY cnt DESC, x, y LIMIT 1),
         |u$t AS (SELECT w, freq, CAST(i AS INT) AS i,
         |          syms[CAST(i AS INT) + 1] AS s
         |        FROM $prev, LATERAL (SELECT unnest(range(len(syms))) AS i) ii),
         |m$t AS (SELECT u.w, u.freq, u.i, u.s,
         |          lead(u.s) OVER (PARTITION BY u.w ORDER BY u.i) AS nxt,
         |          (u.s = b.x AND
         |           lead(u.s) OVER (PARTITION BY u.w ORDER BY u.i) = b.y)
         |            AS ismatch
         |        FROM u$t u CROSS JOIN b$t b),
         |r$t AS (SELECT w, i,
         |          i - CAST(row_number() OVER (PARTITION BY w ORDER BY i) AS INT)
         |            AS grp
         |        FROM m$t WHERE ismatch),
         |sel$t AS (SELECT w, i FROM (
         |            SELECT w, i, row_number() OVER
         |              (PARTITION BY w, grp ORDER BY i) AS rr FROM r$t)
         |          WHERE rr % 2 = 1),
         |$cur AS (SELECT m.w, m.freq,
         |          list(CASE WHEN sel.i IS NOT NULL THEN m.s || m.nxt
         |                    ELSE m.s END ORDER BY m.i) AS syms
         |        FROM m$t m
         |        LEFT JOIN sel$t sel ON m.w = sel.w AND m.i = sel.i
         |        LEFT JOIN sel$t prv ON m.w = prv.w AND m.i = prv.i + 1
         |        WHERE prv.i IS NULL
         |        GROUP BY m.w, m.freq)""".stripMargin
    }
    // the shared learn-loop chain (w0, s0, iterations 1..n) — the final
    // symbol table s<n> is the vocab encoded under the first n merges,
    // which both oracles read
    s"""w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
       |          x -> x <> '')) AS w FROM documents)
       |  GROUP BY w),
       |s0 AS (SELECT w, freq,
       |         list_transform(range(length(w)),
       |           i -> substr(w, CAST(i AS INT) + 1, 1)) AS syms
       |       FROM w0),
       |${(1 to nMerges).map(iteration).mkString(",\n")}""".stripMargin
  }

  /** First 3 merges over the documents corpus. */
  private val tBpe = Q(
    (s, d) => learnMerges(Tables.documents(s, d), "text", 3)
      .orderBy("rank"),
    Some(oracleSql(3)))

  /** Per-doc BPE token counts under the first 3 learned merges — the
    * encode half of the lifecycle. Eager checkpoint + in-query release
    * (the registry Releasable convention) so the vocab persist leaves no
    * cache residue. */
  private val tBpeEncode = Q(
    (s, d) => {
      val (out, release) = encodeCorpusReleasable(
        Tables.documents(s, d), "doc_id", "text", 3)
      val mat = out.orderBy("doc_id").localCheckpoint(eager = true)
      release()
      mat
    },
    Some(encodeOracleSql(3)))

  /** Per-source tokenizer fertility audit — the question a tokenizer
    * card answers: "how many BPE pieces does a word cost, per corpus
    * source?" High fertility on a source flags vocabulary mismatch
    * (the tokenizer under-serves that slice, inflating its effective
    * token budget). Pure composition: the per-doc encode counts
    * ([[encodeCorpus]]) rolled up by the document's source — integer
    * sums, ratios in floor micro-units by integer division.
    * Scale: the learn+encode passes dominate (vocab-sized merge
    * application, q_t_bpe_encode's plan); the rollup adds one
    * broadcast-joined source attach + a sources-sized aggregation. */
  private val tFertility = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val (out, release) = encodeCorpusReleasable(docs, "doc_id", "text", 3)
      val mat = out.localCheckpoint(eager = true)
      release()
      mat.join(broadcast(docs.select(col("doc_id"), col("source"))),
          Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("words"),
          sum("n_bpe_tokens").as("bpe_tokens"),
          sum("n_chars").as("chars"))
        .select(col("source"), col("n_docs"), col("words"),
          col("bpe_tokens"),
          expr("(bpe_tokens * 1000000L) div words").as("fertility_micro"),
          expr("(chars * 1000000L) div bpe_tokens")
            .as("chars_per_token_micro"))
        .orderBy("source")
    },
    Some(s"""WITH ${iterCtes(3)},
       |enc AS (SELECT doc_id, w
       |        FROM (SELECT doc_id, unnest(list_filter(
       |                string_split(text, ' '), x -> x <> '')) AS w
       |              FROM documents)),
       |perdoc AS (SELECT e.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
       |    CAST(SUM(length(e.w)) AS BIGINT) AS n_chars
       |  FROM enc e JOIN s3 s ON e.w = s.w
       |  GROUP BY e.doc_id),
       |bysrc AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(p.n_words) AS BIGINT) AS words,
       |    CAST(SUM(p.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
       |    CAST(SUM(p.n_chars) AS BIGINT) AS chars
       |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
       |  GROUP BY 1)
       |SELECT source, n_docs, words, bpe_tokens,
       |  (bpe_tokens * 1000000) // words AS fertility_micro,
       |  (chars * 1000000) // bpe_tokens AS chars_per_token_micro
       |FROM bysrc ORDER BY source""".stripMargin))

  val queries: Map[String, Q] = Map(
    "q_t_bpe_merges" -> tBpe,
    "q_t_bpe_encode" -> tBpeEncode,
    "q_t_fertility" -> tFertility)
}
