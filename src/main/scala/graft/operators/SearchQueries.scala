package graft.operators

import graft.{GQuery, Tables}
import graft.functions.Exact.countStarSql
import graft.functions.VectorOps
import graft.sources.IndexWrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyword search (BM25) and hybrid keyword+vector retrieval — the "search"
  * serving surface next to the ANN suite (builder mandate: a training-data
  * engine's retrieval side needs lexical ranking, not just embeddings).
  *
  * Scoring is BM25 with k1=1.2, b=0.75 re-expressed as EXACT integer
  * arithmetic: the classic formulation needs ln() for IDF, and libm last-ulp
  * drift between engines could flip ranks, so we use the Robertson rational
  * IDF (N - df + 0.5)/(df + 0.5) = (2N - 2df + 1)/(2df + 1) and evaluate the
  * whole per-term score as a chain of positive-integer multiplications and
  * floor divisions (`div` in Spark, `//` in DuckDB — identical flooring on
  * positive longs, the q_pagerank_iter discipline). Scores land on a micro
  * (1e6) grid; sums of longs are bit-exact on both engines. Headroom: the
  * widest intermediate is idf_micro * tfsat_micro <= (2N·1e6/3)·2.2e6, safe
  * in int64 up to N ≈ 1e6 docs per shard; a 100 TB corpus shards the
  * doc-id space (scores only ever compare within a query, and N/df/tt are
  * per-shard constants folded at plan time).
  *
  * Scale shape: the registered inline query derives postings (term, doc_id,
  * tf, dl) from the corpus — that derivation IS the one-time index build.
  * The serving path is [[writeSearchIndex]]/[[bm25TopkFromIndex]]: postings
  * persisted as a table BUCKETED BY term, so a probe (a) pushes its term
  * list to the scan as an In filter, (b) computes per-term df by a groupBy
  * that rides the bucketing (no exchange), and (c) never touches the raw
  * `text` column — the only shuffle left is the tiny (q_id, doc_id) score
  * aggregate. PartitionBucketSpec pins exactly that plan.
  */
object SearchQueries {

  private val TOP_K = 10
  /** Reciprocal-rank-fusion constant (Cormack et al.'s k=60). */
  private val RRF_K = 60
  // MMR rerank knobs (declared before `defs`, whose eager init reads them)
  private val MMR_K = 5
  private val MMR_REL_W = 70L // λ = 0.7, in percent
  private val MMR_DIV_W = 30L

  /** Fixed query set: terms drawn from the synthetic corpus vocabulary.
    * q_ids double as the query-vector ids on the hybrid path (query q's
    * vector is embeddings.vec_id == q_id, the ANN suite's convention).
    */
  private val QUERY_TERMS: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join", "fast"),
    1L -> Seq("hash", "table", "scan"),
    2L -> Seq("vector", "stream", "window"),
    3L -> Seq("customer", "order", "query"))

  private val N_QUERIES = QUERY_TERMS.size

  private def queryTerms(s: SparkSession): DataFrame =
    s.createDataFrame(QUERY_TERMS.flatMap { case (q, ts) => ts.map(t => (q, t)) })
      .toDF("q_id", "term")

  /** Misspelled probe terms for `search_spell_correct`: one edit from
    * corpus vocabulary words, plus one hopeless string that must yield no
    * correction (the no-candidate path).
    */
  private val MISSPELLED: Seq[(Long, String)] = Seq(
    (0L, "sparkk"), (1L, "jion"), (2L, "vecto"), (3L, "zzzzqqq"))

  private def misspelledFrame(s: SparkSession): DataFrame =
    s.createDataFrame(MISSPELLED).toDF("m_id", "m_term")

  private def misspelledSql: String =
    MISSPELLED.zipWithIndex.map { case ((i, t), idx) =>
      if (idx == 0) s"(CAST($i AS BIGINT), '$t')" else s"($i, '$t')"
    }.mkString("mis(m_id, m_term) AS (VALUES ", ", ", ")")

  /** Phrase queries for `search_phrase_match`: adjacent word pairs drawn
    * from the corpus's frequent bigrams so matches exist.
    */
  private val PHRASES: Seq[(Long, String, String)] = Seq(
    (0L, "table", "hash"), (1L, "customer", "join"), (2L, "vector", "small"))

  private def phraseFrame(s: SparkSession): DataFrame =
    s.createDataFrame(PHRASES).toDF("p_id", "w1", "w2")

  private def phraseSql: String =
    PHRASES.zipWithIndex.map { case ((p, a, b), i) =>
      if (i == 0) s"(CAST($p AS BIGINT), '$a', '$b')" else s"($p, '$a', '$b')"
    }.mkString("ph(p_id, w1, w2) AS (VALUES ", ", ", ")")

  /** k-word phrase queries for `search_phrase_kmatch`: frequent corpus
    * trigrams (present at every shipped scale factor, checked against
    * sf0.001/0.01/0.1). The machinery is length-generic — a 4-word probe
    * is pinned in PartitionBucketSpec at sf0.01.
    */
  private[graft] val KPHRASES: Seq[(Long, Seq[String])] = Seq(
    (0L, Seq("row", "column", "sort")),
    (1L, Seq("part", "filter", "scan")),
    (2L, Seq("window", "fast", "query")),
    (3L, Seq("stream", "table", "hash")))

  /** k-word phrase occurrences over a token-position frame (doc_id, term,
    * pos): every word's positions normalize to the phrase START (pos − i)
    * and the k−1 joins become plain EQUI-joins on (doc_id, start) — no
    * inequality conditions, so Catalyst plans hash joins and each
    * occurrence survives as exactly one start-position row (n_occ is the
    * start count). The chain is anchored on the RAREST word when per-word
    * df is supplied: the anchor's posting list bounds every join's left
    * side, so a phrase containing one rare word costs its postings, not
    * the common words' (the classic positional-intersection order).
    */
  private def phraseKMatch(
      posF: DataFrame, phrases: Seq[(Long, Seq[String])],
      dfOf: Map[String, Long]): DataFrame = {
    val perPhrase = phrases.map { case (pid, words) =>
      val a = words.indices.minBy(i => dfOf.getOrElse(words(i), Long.MaxValue))
      var cur = posF.filter(col("term") === words(a))
        .select(col("doc_id"), (col("pos") - a).as("p0"))
      for (i <- words.indices if i != a)
        cur = cur.join(
          posF.filter(col("term") === words(i))
            .select(col("doc_id"), (col("pos") - i).as("p0")),
          Seq("doc_id", "p0"))
      cur.groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .select(lit(pid).as("p_id"), col("doc_id"), col("n_occ"))
    }
    val all = perPhrase.reduce(_ unionByName _)
    val w = Window.partitionBy("p_id").orderBy(col("n_occ").desc, col("doc_id"))
    all.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("p_id", "rank", "doc_id", "n_occ")
      .orderBy("p_id", "rank")
  }

  /** Oracle chain for the k-word phrases (left-to-right join order —
    * anchoring changes the plan, never the rows).
    */
  private def phraseKSql: String = {
    val per = KPHRASES.map { case (pid, words) =>
      val joins = words.indices.tail.map { i =>
        val al = s"t$i"
        s"JOIN ktoks $al ON $al.doc_id = a.doc_id AND $al.pos = a.pos + $i AND $al.term = '${words(i)}'"
      }.mkString(" ")
      s"""kp$pid AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
         |  SELECT a.doc_id FROM ktoks a $joins WHERE a.term = '${words.head}')
         |  GROUP BY doc_id)""".stripMargin
    }
    val union = KPHRASES.map { case (pid, _) =>
      if (pid == 0L) s"SELECT CAST(0 AS BIGINT) AS p_id, doc_id, n_occ FROM kp0"
      else s"SELECT $pid, doc_id, n_occ FROM kp$pid"
    }.mkString(" UNION ALL ")
    s"""ktoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |  generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
       |${per.mkString(",\n")},
       |kall AS ($union),
       |krank AS (SELECT p_id, doc_id, n_occ,
       |  CAST(row_number() OVER (PARTITION BY p_id ORDER BY n_occ DESC, doc_id) AS BIGINT) AS rank
       |  FROM kall)""".stripMargin
  }

  /** k-word phrase probe against the persisted index: the phrase words'
    * postings are the only scan (term In-list + bucket pruning, raw text
    * never read), positions explode from the stored lists, and the
    * rarest-word anchor comes from the index's own df — a bounded
    * control-plane read of k word counts. Equals the inline
    * `search_phrase_kmatch` (pinned in PartitionBucketSpec, including a
    * 4-word phrase through the same machinery).
    */
  def phraseKMatchFromIndex(
      s: SparkSession, table: String, path: String,
      phrases: Seq[(Long, Seq[String])] = KPHRASES): DataFrame = {
    val words = phrases.flatMap(_._2).distinct
    val p = visiblePostings(s, table, path).filter(col("term").isin(words: _*))
    val dfOf = p.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pos = p.select(col("term"), col("doc_id"),
      explode(col("positions")).as("pos"))
    phraseKMatch(pos, phrases, dfOf)
  }

  /** The inline k-word phrase pipeline (shared by the registered entry and
    * the spec's 4-word generality pin).
    */
  private[graft] def phraseKInline(
      s: SparkSession, dir: String,
      phrases: Seq[(Long, Seq[String])] = KPHRASES): DataFrame = {
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    phraseKMatch(
      toks.select(col("doc_id"), col("term"), col("pos").cast("long").as("pos")),
      phrases, Map.empty)
  }

  private def queryTermsSql: String =
    QUERY_TERMS.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .zipWithIndex
      .map { case ((q, t), i) =>
        if (i == 0) s"(CAST($q AS BIGINT), '$t')" else s"($q, '$t')"
      }
      .mkString("q(q_id, term) AS (VALUES ", ", ", ")")

  /** Per-(query, doc, term) BM25 partial score on the micro grid. Fully
    * parenthesized; `div` token differs per engine ("div" / "//"). Inputs:
    * tf, df, dl, n_docs, tt — all positive longs.
    *  - avgdl_milli   = (tt*1000) div n_docs
    *  - norm_milli    = 250 + (750*dl*1000) div avgdl_milli      ; 1-b+b*dl/avgdl
    *  - denom_milli   = tf*1000 + (1200*norm_milli) div 1000     ; tf + k1*norm
    *  - tfsat_micro   = (tf*2200*1000000) div denom_milli        ; tf(k1+1)/denom
    *  - idf_micro     = ((2N-2df+1)*1000000) div (2df+1)
    *  - score_micro   = (idf_micro * tfsat_micro) div 1000000
    */
  private[graft] def scoreExpr(div: String): String =
    s"((((2*n_docs - 2*df + 1) * 1000000) $div (2*df + 1)) * " +
      s"((tf * 2200 * 1000000) $div ((tf * 1000) + " +
      s"((1200 * (250 + ((750 * dl * 1000) $div ((tt * 1000) $div n_docs)))) $div 1000)))) $div 1000000"

  /** WAND θ-seed pool size, as a multiple of TOP_K. PRICED by the
    * registered `search_wand_pool_curve` (the ann_rp_recall_vs_depth
    * discipline applied to the lexical tier): seed-scoring cost grows
    * linearly in the multiple while the realized skip fraction plateaus
    * once the pool almost surely contains the true top-K — the operating
    * rule is "smallest multiple on the plateau". Measured at sf0.1
    * (19,227 candidates): m=1 → 13.8% skip, m=2 → 24.1%, m=5 → 44.5%,
    * m=10 → 44.5% — IDENTICAL scored sets at 5 and 10, so the plateau
    * starts at 5 and a larger pool buys zero extra skip for strictly more
    * seed scoring; m=1 leaves two-thirds of the audit's skippable set
    * unrealized because θ_est lands far below θ_true. Exactness never
    * depends on the choice: any pool's K-th best full score is ≤ θ_true.
    */
  private[graft] val WAND_POOL_MULTIPLE = 5

  /** Rank docs per query given postings (term, doc_id, tf, dl), per-term df,
    * and the 1-row corpus stats (n_docs, tt). Query/df/stats sides are all
    * broadcast — the postings side is never shuffled before scoring.
    */
  private def bm25Rank(
      postings: DataFrame, dfF: DataFrame, stats: DataFrame, q: DataFrame): DataFrame = {
    val scored = postings
      .join(broadcast(q), Seq("term"))
      .join(broadcast(dfF), Seq("term"))
      .crossJoin(broadcast(stats)) // 1-row bound
      .withColumn("score_t", expr(scoreExpr("div")))
    val aggd = scored.groupBy("q_id", "doc_id").agg(sum(col("score_t")).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    aggd.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "doc_id", "score")
  }

  /** Inline postings/df/stats derivation (= the index build, run in-query so
    * the oracle can mirror it). IDF/length stats are corpus-global; `pred`
    * restricts the CANDIDATE documents only (the filtered-search contract —
    * see [[bm25FilteredTopkFromIndex]]).
    */
  private def bm25Inline(
      s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dfF = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("tt"))
    val postings = postingsOf(
      docs.filter(pred).select(col("doc_id"), col("text"), col("lang")))
    bm25Rank(postings, dfF, stats, queryTerms(s))
  }

  /** Oracle CTE block ending in `ranked` (q_id, doc_id, score, rank).
    * `candWhere` mirrors [[bm25Inline]]'s candidate predicate; `docsFrom`
    * swaps the corpus source (a preceding CTE name) so a snapshot oracle
    * can rank over a corpus SUBSET with self-contained df/stats — the
    * [[bm25OverDocs]] semantics, where an index epoch's stored stats
    * reflect exactly its own corpus.
    */
  private def bm25Sql(
      candWhere: String = "TRUE", docsFrom: String = "documents"): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $docsFrom),
       |dlt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM $docsFrom),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tt FROM $docsFrom),
       |cand AS (SELECT doc_id FROM $docsFrom WHERE $candWhere),
       |tft AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
       |$queryTermsSql,
       |scored AS (SELECT q.q_id, tft.doc_id, ${scoreExpr("//")} AS score_t
       |  FROM tft JOIN q USING (term) JOIN dft USING (term)
       |  JOIN dlt ON tft.doc_id = dlt.doc_id
       |  JOIN cand ON tft.doc_id = cand.doc_id CROSS JOIN stats),
       |aggd AS (SELECT q_id, doc_id, CAST(SUM(score_t) AS BIGINT) AS score
       |  FROM scored GROUP BY 1, 2),
       |ranked AS (SELECT q_id, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM aggd)""".stripMargin

  // ---- sharded BM25 (the distributed-search topology) ---------------------
  // SURVEY §11's 100 TB lexical topology made executable: the doc-id space
  // splits into independent shards, each scoring with ITS OWN corpus stats
  // (n_docs/tt/df are per-shard constants — no global-stats round trip),
  // and only the per-shard TOP-K RANK LISTS cross the shard boundary
  // (≤ K·n_queries rows of (q_id, doc_id, rank) per shard — never scores,
  // whose per-shard normalizations aren't comparable, and never postings).
  // The merger fuses by integer reciprocal rank (the RRF_K=60 discipline);
  // shards partition the doc space, so each doc carries exactly one shard
  // rank. search_sharded_agreement measures the fidelity of that merge
  // against the single-corpus ranking — the operating number for the
  // shard-count tradeoff.

  /** Per-shard BM25 rank list over a self-contained docs frame: postings,
    * df, and corpus stats all derive from `docs` alone.
    */
  private[graft] def bm25OverDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dfF = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("tt"))
    bm25Rank(postingsOf(docs.select("doc_id", "text", "lang")), dfF, stats, queryTerms(s))
  }

  /** Fuse per-shard rank lists (q_id, doc_id, rank): reciprocal-rank
    * positions merge shard lists without comparing cross-shard scores.
    */
  private def shardFuse(lists: Seq[DataFrame]): DataFrame = {
    val both = lists.map(_.select("q_id", "doc_id", "rank")).reduce(_ unionByName _)
      .select(col("q_id"), col("doc_id"),
        expr(s"1000000 div ($RRF_K + rank)").as("rrf_micro"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf_micro").desc, col("doc_id"))
    both.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "doc_id", "rrf_micro")
  }

  /** The inline two-shard retrieval (doc_id parity shards). */
  private def shardedBm25Inline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    shardFuse((0 to 1).map(i =>
      bm25OverDocs(s, docs.filter(pmod(col("doc_id"), lit(2)) === i))))
  }

  /** One shard's oracle chain (prefixed CTEs ending in `{p}ranked`). */
  private def bm25ShardSql(p: String, shardWhere: String): String =
    s"""${p}docs AS (SELECT doc_id, text FROM documents WHERE $shardWhere),
       |${p}toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM ${p}docs),
       |${p}dlt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM ${p}docs),
       |${p}stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tt FROM ${p}docs),
       |${p}tft AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM ${p}toks GROUP BY 1, 2),
       |${p}dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM ${p}toks GROUP BY 1),
       |${p}scored AS (SELECT q.q_id, tft.doc_id, ${scoreExpr("//")} AS score_t
       |  FROM ${p}tft tft JOIN q USING (term) JOIN ${p}dft dft USING (term)
       |  JOIN ${p}dlt dlt ON tft.doc_id = dlt.doc_id CROSS JOIN ${p}stats),
       |${p}aggd AS (SELECT q_id, doc_id, CAST(SUM(score_t) AS BIGINT) AS score
       |  FROM ${p}scored GROUP BY 1, 2),
       |${p}ranked AS (SELECT q_id, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM ${p}aggd)""".stripMargin

  /** Oracle CTE block for the fused sharded list, ending in `shfinal`.
    * [[shardedSqlBody]] omits the query VALUES so it can compose with
    * [[bm25Sql]] (which already defines `q`) in the agreement oracle.
    */
  private def shardedSql: String =
    s"""$queryTermsSql,
       |$shardedSqlBody""".stripMargin

  private def shardedSqlBody: String =
    s"""${bm25ShardSql("s0_", "doc_id % 2 = 0")},
       |${bm25ShardSql("s1_", "doc_id % 2 = 1")},
       |shfused AS (SELECT q_id, doc_id, 1000000 // ($RRF_K + rank) AS rrf_micro
       |  FROM (SELECT q_id, doc_id, rank FROM s0_ranked WHERE rank <= $TOP_K
       |        UNION ALL SELECT q_id, doc_id, rank FROM s1_ranked WHERE rank <= $TOP_K)),
       |shfinal AS (SELECT q_id, doc_id, rrf_micro,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
       |  FROM shfused)""".stripMargin

  /** The index-served twin of `search_sharded_rrf`: probe each half-corpus
    * persisted index independently (each probe is the full
    * [[bm25ProbeIndex]] plan — bucketed postings scan, term In-pushdown, df
    * riding the bucketing with shard-local stats) and fuse the two rank
    * lists. Equals the inline registered query (pinned in
    * PartitionBucketSpec along with the boundary contract: the fusion
    * consumes ≤ K rows per query per shard, rank lists, never scores).
    */
  def shardedBm25FromIndexes(
      s: SparkSession, shards: Seq[(String, String)]): DataFrame =
    shardFuse(shards.map { case (table, path) =>
      bm25TopkFromIndex(s, table, path).select("q_id", "doc_id", "rank")
    }).orderBy("q_id", "rank")

  // ---- persisted inverted index (the 100 TB serving layout) ---------------

  /** Postings (term, doc_id, tf, dl, lang, positions) for a (doc_id, text,
    * lang) frame — the one derivation the index build, the append path, and
    * the inline registered queries all share. `lang` rides along as the
    * filtered-search metadata column (the IVF index's label precedent);
    * `positions` (sorted token offsets) makes the index phrase-capable —
    * BM25 probes never read it (column pruning drops it at the scan).
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val dl = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    toks.groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .join(dl, "doc_id")
      .select("term", "doc_id", "tf", "dl", "lang", "positions")
  }

  // tt coalesces so an EMPTY corpus yields (0, 0), not (0, null) — the
  // stream-from-empty bootstrap ingests into a zero-stats index and every
  // batch's advance arithmetic stays total
  private def statsOf(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)).as("tt"))

  /** Postings bucket count — a TEST-SCALE default. Sizing rule (SURVEY
    * §11): buckets ≈ corpus postings bytes / target file size (256 MB–1 GB
    * per bucket file post-compaction), rounded to a power of two so a
    * resharding doubles/halves cleanly; probe cost is independent of the
    * count (the term In-list prunes to its buckets either way), so size
    * for file-handle and compaction-task granularity, not probe speed.
    * Probe results are invariant under the choice (pinned at a non-default
    * size in PartitionBucketSpec); append/compaction derive the count from
    * the catalog's bucket spec, so maintenance can never diverge from the
    * build.
    */
  val POSTINGS_BUCKETS = 8

  /** The table's catalog-recorded bucket count (maintenance ops follow the
    * build, whatever size it chose).
    */
  private def bucketCountOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(POSTINGS_BUCKETS)

  /** Write the inverted index: postings (term, doc_id, tf, dl) as a table
    * bucketed+sorted by term, plus the 1-row corpus stats beside it. Built
    * once per corpus version; probes never re-derive anything from `text`.
    */
  def writeSearchIndex(s: SparkSession, dir: String, table: String, path: String,
                       buckets: Int = POSTINGS_BUCKETS): Unit =
    writeSearchIndexWhere(s, dir, table, path, lit(true), buckets)

  /** As [[writeSearchIndex]] but indexing only rows matching `pred` — the
    * bootstrap half of the ingest lifecycle test.
    */
  def writeSearchIndexWhere(
      s: SparkSession, dir: String, table: String, path: String,
      pred: org.apache.spark.sql.Column,
      buckets: Int = POSTINGS_BUCKETS): Unit = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang")).filter(pred)
    // a rebuild starts a new lifecycle: drop any previous life's manifest
    // (stats pointer, tombstones) so probes resolve the fresh defaults
    graft.sources.Tombstones.reset(s, path)
    s.sql(s"DROP TABLE IF EXISTS $table")
    postingsOf(docs)
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .option("path", path)
      .saveAsTable(table)
    statsOf(docs).write.mode("overwrite").parquet(s"${path}_stats")
  }

  /** Incremental index maintenance — the batch-append path, now ATOMIC:
    * new documents' postings land as an INSERT-ONLY delta batch and the
    * 1-row stats advance by cell-wise addition IN THE SAME manifest
    * commit ([[graft.sources.IndexWrite.insert]]), so a probe
    * sees rows-with-stats or neither — the postings-landed/stats-old
    * crash window the old in-place bucket append carried is structurally
    * gone, and a crashed append changes NOTHING (retry-safe). No standing
    * file is touched, so the base generation never moves: as-of reads
    * stay exact ACROSS appends (they resolve the pre-append epoch's
    * delta list — an improvement over the old path, which had to fence
    * them with a generation bump). The physical bucket-append is now the
    * fold's job: [[compactSearchIndex]] rewrites base∪delta into fresh
    * term buckets and retires the window; until then probes pay one
    * (window-bounded) delta union arm. Probe-side df counts postings
    * across base and delta, so after an append every probe scores EXACTLY
    * as if the index had been built over the full corpus —
    * bootstrap-plus-append parity is pinned in PartitionBucketSpec.
    * `newDocs` carries (doc_id, text, lang) and must be NEW ids — an id
    * already serving fails loudly (no masking tombstone on this path;
    * replacements go through [[bufferSearchUpdate]]).
    */
  def appendSearchIndex(
      s: SparkSession, table: String, path: String, newDocs: DataFrame): Unit =
    IndexWrite.insert(newDocs, IndexWrite.Target(path, "doc_id", "appendSearchIndex",
        "compactSearchIndex"), None, ep => visiblePostingsOf(s, table, ep)) { (ep, _, fresh) =>
      // the stats delta derives from the batch's POSTINGS (the
      // replaceSearch discipline): a sub-floor insert that lands no
      // postings must count 0, not +1 n_docs — the stored stats always
      // describe the serve set. Persisted: the delta agg and the delta
      // write share the postings computation.
      val old = epochStats(s, path, ep).head
      val posts = postingsOf(fresh).persist()
      val (nd, sdl) = contribution(posts)
      IndexWrite.Encoded(posts,
        stats = Some(statsFrame(s, old.getLong(0) + nd, old.getLong(1) + sdl)))
    }

  /** The PROBE-VISIBLE postings: base table rows minus tombstones (which
    * include every buffered-update id) plus the latest buffered
    * replacement rows — the base∪delta read every probe resolves through.
    * With no open update window this is exactly the tombstone-filtered
    * base scan (zero plan overhead), so only a deployment that actually
    * buffers updates pays the (window-bounded) delta union.
    */
  private[graft] def visiblePostings(
      s: SparkSession, table: String, path: String): DataFrame =
    visiblePostingsOf(s, table,
      graft.sources.IndexManifest.current(s, path))

  /** [[visiblePostings]] against a SPECIFIC resolved epoch — probes
    * resolve the manifest ONCE and thread the epoch through every arm
    * (tombstones, deltas, stats), so a probe racing a commit sees one
    * consistent epoch, never a torn mix of two. The delta arm is a
    * KEY-OVERRIDE (base rows of window-resident ids superseded, not
    * unioned): buffered-update ids are base-masked by their tombstone
    * anyway, but INSERT-only append ids have no mask, and the fold's
    * swap-then-clear pair has a crash point where the new base already
    * contains the window's rows while the window is still open — a plain
    * union would double-serve them there; the override is exact in every
    * fold state (crash-injection pinned in TombstoneSpec).
    */
  private def visiblePostingsOf(
      s: SparkSession, table: String,
      ep: Option[graft.sources.IndexManifest.Epoch]): DataFrame =
    graft.sources.Tombstones.maskedOverrideFrame(s, ep, s.table(table), "doc_id")

  private def epochStats(
      s: SparkSession, path: String,
      ep: Option[graft.sources.IndexManifest.Epoch]): DataFrame =
    s.read.parquet(ep.flatMap(_.stats).getOrElse(s"${path}_stats"))

  /** Buffer one update batch WITHOUT compacting — the amortized form of
    * [[updateSearchIndex]] (the LSM memtable shape): the updated ids'
    * tombstone masks their base rows, the replacement postings land in a
    * delta batch, and the 1-row stats advance by (new − currently-visible)
    * contribution — all in ONE manifest commit, so probes see the whole
    * batch or none of it. Probes read base∪delta ([[visiblePostings]]),
    * and after EVERY batch score exactly as an index rebuilt over the
    * updated corpus (pinned in TombstoneSpec: N buffered batches + one
    * fold == N eager updates, with the fold the only physical rewrite).
    * An id updated twice in one window surfaces only its newest rows.
    * [[compactSearchIndex]] is the fold: it rewrites base∪delta minus
    * tombstones into a fresh bucketed table and retires the window.
    */
  def bufferSearchUpdate(
      s: SparkSession, table: String, path: String, docs: DataFrame): Unit =
    replaceSearch(s, table, path, docs, "bufferSearchUpdate", None)

  /** EXACTLY-ONCE streaming ingest of one micro-batch — the LSM ingest
    * path (new or changed documents land as a delta batch through ONE
    * manifest commit; [[compactSearchIndex]] folds the window): returns
    * false and changes NOTHING when `batchId` is at or below the index's
    * committed high-water mark FOR THE SAME STREAM LINEAGE — the
    * at-least-once foreachBatch replay, fenced because the rows and the
    * (stream, mark) pair land in the same commit. A DIFFERENT lineage
    * (fresh checkpoint) restarts batch ids from 0 — fencing it would
    * silently drop never-ingested documents, so it fails loudly instead
    * ([[graft.sources.Tombstones.resetIngestFence]] is the deliberate
    * override). Both this and [[appendSearchIndex]] ride the one-commit
    * delta route (atomic by construction); this fenced form additionally
    * handles REPLACEMENTS (masking tombstone + visible-contribution stats
    * adjustment), where the insert-only append refuses ids that already
    * serve. Probes pay the (window-bounded) delta union arm until the
    * next fold. [[graft.streaming.SearchStream.runSearchIngest]]
    * is the streaming caller; batch==stream, replay==no-op, and the
    * cross-lineage refusal pinned in StreamingSpec/TombstoneSpec.
    */
  def ingestSearchBatch(
      s: SparkSession, table: String, path: String, docs: DataFrame,
      batchId: Long, streamId: String = "default"): Boolean =
    replaceSearch(s, table, path, docs, "ingestSearchBatch", Some((streamId, batchId)))

  private def replaceSearch(
      s: SparkSession, table: String, path: String, docs: DataFrame, what: String,
      fence: Option[(String, Long)]): Boolean = {
    import s.implicits._
    IndexWrite.replace(docs, IndexWrite.Target(path, "doc_id", what, "compactSearchIndex"),
        fence) { (ep, ids) =>
      // the replaced versions' contribution comes from the PROBE-VISIBLE
      // rows (base-unmasked, or an earlier batch of this window — either
      // way exactly what scoring currently counts), so the stats stay exact
      // after every batch, including re-updates and fresh inserts
      val (oldN, oldT) = contribution(visiblePostingsOf(s, table, ep)
        .join(broadcast(ids.toDF("doc_id")), Seq("doc_id"), "left_semi"))
      val cur = epochStats(s, path, ep).head
      // persisted: the rows feed the stats add-side, the landing ids, and
      // the delta write. The ADD side comes from the batch's POSTINGS
      // (what will actually serve), never a raw batch-row count: a doc
      // whose new text yields no postings is a REMOVAL and must count as 0
      // — statsOf(docs) counted it (+1 n_docs), permanently inflating the
      // stored stats on every sub-floor update or removed-id sub-floor
      // redelivery until a fold recomputed them (review-found: pre-fold and
      // post-fold rankings diverged with no data change)
      val rows = postingsOf(docs).persist()
      val (addN, addT) = contribution(rows)
      IndexWrite.Encoded(rows, landing = Some(IndexWrite.idsOf(rows, "doc_id")),
        stats = Some(statsFrame(s,
          cur.getLong(0) - oldN + addN, cur.getLong(1) - oldT + addT)))
    }
  }

  /** The (n_docs, Σdl) contribution of a postings frame's documents. */
  private def contribution(postings: DataFrame): (Long, Long) = {
    val r = postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("nd"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head
    (r.getLong(0), r.getLong(1))
  }

  private def statsFrame(s: SparkSession, nDocs: Long, tt: Long): DataFrame =
    s.createDataFrame(Seq((nDocs, tt))).toDF("n_docs", "tt")

  /** Probe the persisted index with the fixed query set: the term In-filter
    * pushes to the postings scan, df rides the term bucketing (no exchange),
    * and raw document text is never read. Results equal the inline query.
    */
  def bm25TopkFromIndex(s: SparkSession, table: String, path: String): DataFrame =
    bm25ProbeIndex(s, table, path, queryTerms(s))

  /** Delete documents from a persisted inverted index — the takedown path:
    * BM25 scores depend on corpus-global statistics, so deletion is a
    * two-part update with NO standing-file rewrite:
    *   1. the 1-row stats decrement by exactly the deleted documents' own
    *      contribution (n_docs, Σdl — computed from the index itself
    *      before the tombstone lands, via the same temp-write + rename the
    *      append path uses), and
    *   2. the doc ids land in the tombstone sidecar; every probe
    *      anti-joins them out BEFORE computing df, so per-term df is exact
    *      for the surviving corpus by construction.
    * After both, every probe scores exactly as an index built over the
    * surviving corpus (pinned in TombstoneSpec). Deleting an absent or
    * already-deleted id is a no-op for the stats (its rows are already
    * masked) and idempotent for the sidecar. The decremented stats and the
    * tombstone land in ONE manifest commit ([[graft.sources.Tombstones
    * .addWithStats]]) — no probe can ever observe one without the other,
    * and a delete that crashes before the commit changes nothing, so
    * retrying it recomputes from the old epoch instead of
    * double-decrementing (crash-injection pinned in TombstoneSpec).
    */
  def deleteFromSearchIndex(
      s: SparkSession, table: String, path: String, docIds: Seq[Long]): Unit = {
    import s.implicits._
    // the guard, the decrement and the committed template describe ONE
    // resolved epoch; membership via a broadcast join, not an isin
    // literal: a bulk takedown (thousands of ids) would otherwise inline a
    // giant In-list into the plan
    IndexWrite.delete(s, IndexWrite.Target(path, "doc_id", "deleteFromSearchIndex",
        "compactSearchIndex"), docIds, stats = Some { ep =>
      val (nd, sdl) = contribution(graft.sources.Tombstones.filterOf(s.table(table), ep, "doc_id")
        .join(broadcast(docIds.toDF("doc_id")), Seq("doc_id"), "left_semi"))
      val old = epochStats(s, path, ep).head
      statsFrame(s, old.getLong(0) - nd, old.getLong(1) - sdl)
    })
  }

  /** Replace changed documents in the index — the UPDATE of the lifecycle's
    * CRUD, composed from the verified pieces: tombstone the ids, fold the
    * tombstones in (compaction — required before an id can re-enter, per
    * the append guard), then append the new versions' postings with the
    * stats advance. After it, probes equal an index built over the updated
    * corpus (pinned in TombstoneSpec). The per-call compaction is the
    * amortization knob, and [[bufferSearchUpdate]] is the knob turned: N
    * batches accumulate as tombstone+delta commits and ONE fold retires
    * the window (semantics pinned identical, rewrite count measured N → 1
    * in TombstoneSpec). `docs` carries (doc_id, text, lang); ids absent
    * from the index insert cleanly (the delete is a no-op for them).
    */
  def updateSearchIndex(
      s: SparkSession, table: String, path: String, docs: DataFrame): Unit = {
    val ids = docs.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
    deleteFromSearchIndex(s, table, path, ids)
    compactSearchIndex(s, table, path)
    appendSearchIndex(s, table, path, docs)
  }

  /** The lexical serving entry point: probe the persisted index for an
    * ARBITRARY query frame (q_id, term) — the fixed-set probe above and the
    * streaming path ([[graft.streaming.SearchStream]]) both delegate here.
    * The batch's distinct terms (a bounded control-plane list — queries are
    * small by definition) become the postings scan's In filter. Per-query
    * independence: df and the corpus stats come from the INDEX, never the
    * batch, so any batching of queries yields identical per-query rows.
    * Tombstoned documents drop before the df aggregate (broadcast
    * anti-join — the bucketed scan never shuffles), so df and candidates
    * are exact for the surviving corpus.
    */
  def bm25ProbeIndex(s: SparkSession, table: String, path: String, q: DataFrame): DataFrame = {
    val ep = graft.sources.IndexManifest.current(s, path)
    val terms = q.select("term").distinct().collect().map(_.getString(0)).toSeq
    val p = visiblePostingsOf(s, table, ep)
      .filter(col("term").isin(terms: _*))
    val dfF = p.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = epochStats(s, path, ep)
    bm25Rank(p, dfF, stats, q).orderBy("q_id", "rank")
  }

  /** Probe the persisted index AS OF a committed epoch — time travel over
    * the manifest, for free: every version file is immutable and
    * complete, so resolving stats/tombstones/deltas through epoch v
    * instead of the highest one reproduces exactly what a probe returned
    * when v was current (version 0 = the build state, before any
    * mutation). The training-reproducibility read: "score this query
    * against the corpus state that trained the model". SOUNDNESS
    * HORIZON: exact across DELETE and BUFFERED-UPDATE epochs — mutations
    * that never touch standing files. An append or compaction mutates or
    * supersedes the base generation; every such writer bumps the epoch's
    * base-generation counter, and this probe REFUSES to travel across the
    * boundary (the requested epoch's generation must equal the current
    * one) — without the counter an as-of read after an append would
    * silently score the appended rows against pre-append stats. Vacuum
    * reclaims superseded epochs' files, which also fails the travel
    * loudly (missing stats dir). Pinned in TombstoneSpec: as-of 0 == the
    * pre-delete registered ranking, as-of the delete epoch == the deleted
    * ranking after later layered mutations; append/vacuum horizons throw.
    */
  def bm25TopkFromIndexAsOf(
      s: SparkSession, table: String, path: String, version: Long): DataFrame = {
    val ep = graft.sources.IndexManifest.at(s, path, version)
    graft.sources.IndexManifest.requireSameGeneration(s, path, ep, version)
    val q = queryTerms(s)
    val terms = q.select("term").distinct().collect().map(_.getString(0)).toSeq
    // the live probe's own epoch-resolution helpers, pointed at `ep` — the
    // as-of read IS the live read against an older pointer, so any fix to
    // the visible-view logic applies to both by construction
    val p = visiblePostingsOf(s, table, ep).filter(col("term").isin(terms: _*))
    val dfF = p.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Rank(p, dfF, epochStats(s, path, ep), q).orderBy("q_id", "rank")
  }

  /** Materialize a committed epoch as a STANDALONE frozen index — the
    * durable form of [[bm25TopkFromIndexAsOf]]: an as-of read dies at the
    * next append/compaction (generation boundary) or vacuum (reclaimed
    * files); a clone copies the epoch's probe-visible state into a fresh
    * bucketed table + stats dir and OWNS it, so it keeps serving that
    * exact corpus state forever, whatever happens to the source — the
    * training-reproducibility freeze ("pin the index the model trained
    * on"). Cost: one bucketed rewrite of the visible rows (a compaction's
    * price, paid once per freeze); the clone starts a clean lifecycle of
    * its own (no manifest, no tombstones — it equals a fresh build over
    * the epoch's surviving corpus, pinned in TombstoneSpec including
    * survival across a source compaction that kills the as-of read).
    */
  def cloneSearchIndexAsOf(
      s: SparkSession, table: String, path: String, version: Long,
      destTable: String, destPath: String): Unit = {
    val ep = graft.sources.IndexManifest.at(s, path, version)
    graft.sources.IndexManifest.requireSameGeneration(s, path, ep, version)
    graft.sources.Tombstones.reset(s, destPath)
    // DROP TABLE on an EXTERNAL table leaves its files behind — a re-clone
    // over a lived-in destTable must reclaim the previous freeze's
    // location and stats (no manifest backs a clone, so nothing else can)
    val cat = s.sessionState.catalog
    val ident = s.sessionState.sqlParser.parseTableIdentifier(destTable)
    val oldLoc = if (cat.tableExists(ident))
      Some(cat.getTableMetadata(ident).location.toString) else None
    s.sql(s"DROP TABLE IF EXISTS $destTable")
    oldLoc.foreach { loc =>
      val conf = s.sparkContext.hadoopConfiguration
      Seq(loc, s"${loc.stripSuffix("/")}_stats").foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        try { p.getFileSystem(conf).delete(p, true); () }
        catch { case _: java.io.IOException => () }
      }
    }
    // repartitioned on the derived bucket id, so each bucket lands in one
    // task (one file per bucket) — adaptive coalescing merges only whole
    // partitions and cannot split one
    val nb = bucketCountOf(s, table)
    visiblePostingsOf(s, table, ep)
      .repartition(nb, expr(s"pmod(hash(term), $nb)"))
      .write.mode("overwrite")
      .bucketBy(nb, "term").sortBy("term")
      .option("path", destPath)
      .saveAsTable(destTable)
    epochStats(s, path, ep).write.mode("overwrite").parquet(s"${destPath}_stats")
  }

  /** Two-phase WAND-style pruned ranking (Broder et al., CIKM 2003 —
    * executed, not just audited): the expensive stage (per-posting score
    * arithmetic + the (q_id, doc_id) aggregate + the rank window) runs
    * only on candidates whose term-UB sum can still reach the top-K
    * threshold. Distributed re-expression of the document-at-a-time
    * pointer walk:
    *   1. one pass over the query-term postings computes, per term, df AND
    *      the UB ingredients (max tf, min dl) — the same aggregate that
    *      computes df, so the bound derives from the SURVIVING postings
    *      and appends/deletes can never stale it;
    *      UB_t = score(max_tf, min_dl | df, stats) — scoreExpr is monotone
    *      increasing in tf and decreasing in dl, so the bound holds term
    *      by term even though (max_tf, min_dl) may not be attained jointly;
    *   2. a LIGHT pass over (term, doc_id) membership alone sums UBs per
    *      candidate (no dl/tf arithmetic, no score chain);
    *   3. θ_est = the K-th best FULL score among the top-K candidates by
    *      UB sum (≤ K·n_queries docs scored) — a LOWER bound on the true
    *      θ, because any subset's K-th best score is ≤ the global one;
    *   4. candidates with ub_sum < θ_est are pruned WITHOUT scoring; the
    *      survivors score fully and rank.
    * Exactness: score(d) ≥ θ_true ⇒ ub_sum(d) ≥ θ_true ≥ θ_est ⇒ d
    * survives, so every true top-K doc is scored and (because the true
    * top-K occupy the same positions among survivors) the output is
    * row-identical to the unpruned path — proven two ways: the registered
    * `search_bm25_wand` hash-matches the `search_bm25_topk` ORACLE, and
    * SearchSpec pins the index-served twin to [[bm25TopkFromIndex]] with
    * the measured scored-candidate reduction against the
    * `search_wand_bound` audit. Queries with < K candidates have no θ and
    * skip nothing (the audit's degenerate-corpus honesty).
    * Returns (topk, per-query counts (n_cands, n_scored)).
    */
  private def bm25WandRank(
      postings0: DataFrame, stats0: DataFrame, q: DataFrame,
      poolMultiple: Int = WAND_POOL_MULTIPLE): (DataFrame, DataFrame) = {
    // [r22 opt, guide §2.4] the query-term postings feed FOUR consumers
    // (per-term UBs, the UB sums, and both full-scoring passes) —
    // materialize once (wandPoolCurve's discipline; the frame is
    // query-term-bounded, not corpus-sized) instead of re-deriving the
    // tokenize+explode+aggregate tree per consumer. The 1-row stats stay
    // recomputed: a Materialize there measured as pure added job latency
    // (one agg scan per use is cheaper than the extra eager action).
    val postings = Materialize(postings0)
    val stats = stats0
    val perTerm = postings.groupBy("term").agg(
      count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))
    // rename (max_tf, min_dl) into scoreExpr's (tf, dl) slots — UB_t rides
    // the exact integer micro grid, so ub_sum/θ comparisons can never
    // drift from the true scores they bound
    val ubF = perTerm.select(col("term"), col("df"),
        col("max_tf").as("tf"), col("min_dl").as("dl"))
      .crossJoin(broadcast(stats))
      .withColumn("ub", expr(scoreExpr("div")))
      .select("term", "df", "ub")
    val ubSum = postings.select("term", "doc_id")
      .join(broadcast(q), Seq("term"))
      .join(broadcast(ubF.select("term", "ub")), Seq("term"))
      .groupBy("q_id", "doc_id").agg(sum(col("ub")).as("ub_sum"))
    val dfF = ubF.select("term", "df")
    // `hintBroadcast` only for PROVABLY bounded candidate frames (the
    // ≤ 5K·n_queries θ-seed pool). The survivor set is NOT bounded — when
    // θ prunes little (degenerate corpora, <K-candidate queries where θ is
    // NULL, common-term postings) it equals the full candidate set, so it
    // goes through a plain semi join and the planner falls back to shuffle
    // when it is large.
    def fullScores(cands: DataFrame, hintBroadcast: Boolean): DataFrame =
      postings.join(broadcast(q), Seq("term"))
        .join(if (hintBroadcast) broadcast(cands) else cands,
          Seq("q_id", "doc_id"), "left_semi")
        .join(broadcast(dfF), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("score_t", expr(scoreExpr("div")))
        .groupBy("q_id", "doc_id").agg(sum(col("score_t")).as("score"))
    // seed pool: the top 5K candidates by UB sum, not just K — θ_est is
    // the K-th best FULL score inside the pool, so a pool that (very
    // likely) contains the true top-K yields θ_est = θ_true and the prune
    // realizes the audit's full skippable set (measured at sf0.1: ~14% of
    // candidates skipped with a K-sized pool vs ~44-45% — the audit's
    // n_skippable to the row — at 5K; pool scoring is ≤ 5K·n_queries docs
    // either way, bounded control-plane). Still provably exact: ANY
    // subset's K-th best score is ≤ θ_true.
    val wub = Window.partitionBy("q_id").orderBy(col("ub_sum").desc, col("doc_id"))
    val seeds = ubSum.withColumn("rn", row_number().over(wub))
      .filter(col("rn") <= poolMultiple * TOP_K).select("q_id", "doc_id")
    val wq = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    val theta = fullScores(seeds, hintBroadcast = true)
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") === TOP_K)
      .select(col("q_id"), col("score").as("theta"))
    val survivors = ubSum.join(broadcast(theta), Seq("q_id"), "left")
      .filter(col("theta").isNull || col("ub_sum") >= col("theta"))
      .select("q_id", "doc_id")
    val topk = fullScores(survivors, hintBroadcast = false)
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "doc_id", "score")
    // honesty in the measurement: everything that was fully scored counts —
    // survivors AND the θ-seeding top-K (a seed pruned later was still paid)
    val scoredSet = survivors.unionByName(seeds).distinct()
    val counts = ubSum.groupBy("q_id").agg(count(lit(1)).as("n_cands"))
      .join(scoredSet.groupBy("q_id").agg(count(lit(1)).as("n_scored")), "q_id")
    (topk, counts)
  }

  /** The WAND-pruned serving twin of [[bm25TopkFromIndex]]: same bucketed
    * postings scan, term In-pushdown, tombstone mask, and index stats —
    * but only UB-surviving candidates pay the scoring stage. Row-identical
    * to the unpruned probe (pinned in SearchSpec).
    */
  def bm25WandTopkFromIndex(s: SparkSession, table: String, path: String): DataFrame =
    bm25WandProbeIndex(s, table, path, queryTerms(s))._1.orderBy("q_id", "rank")

  /** WAND probe for an arbitrary query frame; returns (topk, counts) so
    * serving can surface the realized skip fraction as an operating metric.
    */
  def bm25WandProbeIndex(
      s: SparkSession, table: String, path: String, q: DataFrame)
      : (DataFrame, DataFrame) = {
    val ep = graft.sources.IndexManifest.current(s, path)
    val terms = q.select("term").distinct().collect().map(_.getString(0)).toSeq
    val p = visiblePostingsOf(s, table, ep)
      .filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf", "dl")
    val stats = epochStats(s, path, ep)
    bm25WandRank(p, stats, q)
  }

  /** Filtered (hybrid lexical) probe: top-k among documents matching a
    * metadata predicate — "search English docs only". IDF and length stats
    * stay CORPUS-GLOBAL (an index property — restricting them to the
    * filtered subset would re-rank identical candidate sets differently per
    * filter); only the CANDIDATE postings are filtered, and the predicate
    * pushes to the same term-pruned postings scan (PushedFilters carries
    * both the term In-list and the lang equality — pinned in
    * PartitionBucketSpec). Equals the inline `search_bm25_filtered`.
    */
  def bm25FilteredTopkFromIndex(
      s: SparkSession, table: String, path: String, lang: String): DataFrame = {
    val ep = graft.sources.IndexManifest.current(s, path)
    val terms = QUERY_TERMS.flatMap(_._2).distinct
    val p = visiblePostingsOf(s, table, ep)
      .filter(col("term").isin(terms: _*))
    val dfF = p.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = epochStats(s, path, ep)
    bm25Rank(p.filter(col("lang") === lang), dfF, stats, queryTerms(s))
      .orderBy("q_id", "rank")
  }

  /** Reciprocal-rank fusion of a lexical and a vector rank list (both
    * (q_id, doc_id, rank_*)): rrf = Σ_lists 1e6 div (60 + rank), pure
    * integer so the fusion can never drift cross-engine; docs present in
    * one list keep that list's contribution (full-outer fuse).
    */
  def rrfFuse(bm: DataFrame, vec: DataFrame): DataFrame = {
    val fused = bm.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        expr(s"coalesce(1000000 div ($RRF_K + rank_t), 0) + " +
          s"coalesce(1000000 div ($RRF_K + rank_v), 0)").as("rrf_micro"))
    val fw = Window.partitionBy("q_id").orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(fw).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("q_id", "rank", "doc_id", "rrf_micro")
      .orderBy("q_id", "rank")
  }

  /** Hybrid retrieval served ENTIRELY from persisted indexes — the 100 TB
    * serving composition: the lexical list probes the bucketed postings
    * table ([[bm25TopkFromIndex]]), the vector list probes the
    * partition-pruned IVF index (`ivfProbeIndex`), and the fusion is the
    * same integer RRF as the registered inline query. No scan reads the
    * raw document text, and corpus embeddings are read only for the 4
    * query vectors (pushed filter). Equals fusing the two inline
    * oracle-verified lists — pinned in PartitionBucketSpec.
    */
  def hybridTopkFromIndexes(
      s: SparkSession, dir: String, table: String, path: String,
      ivfPath: String): DataFrame = {
    val bm = bm25TopkFromIndex(s, table, path)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
    val e = VectorOps.normalized(s, dir)
    val vec = SimilarityQueries.ivfProbeIndex(s, dir, ivfPath,
      e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm"))
      .select(col("q_id"), col("cand_id").as("doc_id"), col("rank").as("rank_v"))
    rrfFuse(bm, vec)
  }

  /** Hybrid retrieval from a MUTUALLY CONSISTENT snapshot of both
    * indexes — the serving read for a group mid-ingest: the ingest group
    * ([[graft.streaming.DocumentsStream.runCorpusIngest]]) commits
    * siblings in a fixed order, so between sibling commits the lexical
    * index can be a batch ahead of the vector index (or vice versa), and
    * the LIVE [[hybridTopkFromIndexes]] would fuse two different corpus
    * states — a document ranked lexically that the vector list has never
    * seen. This read instead resolves the min common (lineage, batch-id)
    * fence across both manifests
    * ([[graft.sources.Tombstones.commonIngestFence]] — loud refusal when
    * no common lineage exists) and probes each index AS OF its epoch at
    * that mark, composing the existing as-of reads: the fused result is
    * exactly the hybrid over the COMMON prefix, equal to the batch twin
    * over that prefix (pinned in StreamingSpec). Cost over the live
    * probe: two manifest history reads (control-plane). Horizon: a fold
    * past the resolved epoch refuses loudly (the as-of generation guard)
    * — fold cadence and snapshot reads are the same trade as every as-of.
    */
  def hybridTopkFromIndexesConsistent(
      s: SparkSession, dir: String, table: String, path: String,
      ivfPath: String): DataFrame = {
    val (_, hwm) = graft.sources.Tombstones.commonIngestFence(
      s, Seq(path, ivfPath))
    val bmV = graft.sources.Tombstones.versionAtIngestHwm(s, path, hwm)
    val ivfV = graft.sources.Tombstones.versionAtIngestHwm(s, ivfPath, hwm)
    val bm = bm25TopkFromIndexAsOf(s, table, path, bmV)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
    // the SAME query vectors as the live hybrid (this family's N_QUERIES,
    // not the vector family's own fixed probe set)
    val e = VectorOps.normalized(s, dir)
    val vec = SimilarityQueries.ivfProbeIndexAsOf(s, dir, ivfPath,
        e.filter(col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm"), ivfV)
      .select(col("q_id"), col("cand_id").as("doc_id"), col("rank").as("rank_v"))
    rrfFuse(bm, vec)
  }

  /** Freeze a hybrid group's CONSISTENT snapshot as STANDALONE clones —
    * the group-wide training-reproducibility export ("pin the index SET
    * the model trained on"): resolve the min common (lineage, batch-id)
    * fence across the lexical and vector manifests (the
    * [[hybridTopkFromIndexesConsistent]] resolution verbatim — loud
    * refusal when no common lineage exists), resolve each index's epoch
    * at that mark, and materialize BOTH via the per-family clones
    * ([[cloneSearchIndexAsOf]] / [[graft.operators.SimilarityQueries
    * .cloneIvfIndexAsOf]]). The clones OWN their copies and start clean
    * lifecycles, so the frozen hybrid keeps serving that exact corpus
    * state across any later source fold, vacuum, or generation bump —
    * where the consistent READ dies at the as-of horizon, the clone set
    * does not (pinned in StreamingSpec, including survival across a
    * source fold + vacuum). `fence` pins an EARLIER mark than the live
    * common one (both indexes must have committed epochs at or below it
    * — the [[graft.sources.Tombstones.versionAtIngestHwm]] refusal);
    * None takes the newest mutually consistent state. Returns the
    * (lineage, mark) actually frozen, for the caller's training ledger.
    */
  def cloneHybridGroupAsOf(
      s: SparkSession, table: String, path: String, ivfPath: String,
      destTable: String, destPath: String, destIvfPath: String,
      fence: Option[Long] = None): (String, Long) = {
    val (lineage, liveHwm) = graft.sources.Tombstones.commonIngestFence(
      s, Seq(path, ivfPath))
    val hwm = fence.getOrElse(liveHwm)
    require(hwm <= liveHwm,
      s"cloneHybridGroupAsOf: requested fence $hwm is past the group's " +
        s"common ingest mark $liveHwm — no sibling-consistent state exists there yet")
    val bmV = graft.sources.Tombstones.versionAtIngestHwm(s, path, hwm)
    val ivfV = graft.sources.Tombstones.versionAtIngestHwm(s, ivfPath, hwm)
    cloneSearchIndexAsOf(s, table, path, bmV, destTable, destPath)
    SimilarityQueries.cloneIvfIndexAsOf(s, ivfPath, ivfV, destIvfPath)
    (lineage, hwm)
  }

  /** Phrase probe against the persisted index: restrict the scan to the
    * PHRASE WORDS' postings (term In-list + bucket pruning, the BM25 probe
    * shape), explode their position lists, and run the adjacency equi-join
    * on (doc_id, pos+1) — candidates bounded by the probed words' posting
    * lists, raw text never read. Equals the inline `search_phrase_match`
    * (pinned in PartitionBucketSpec).
    */
  def phraseMatchFromIndex(s: SparkSession, table: String, path: String): DataFrame = {
    val words = PHRASES.flatMap(p => Seq(p._2, p._3)).distinct
    val p = visiblePostings(s, table, path)
      .filter(col("term").isin(words: _*))
    val pos = p.select(col("term"), col("doc_id"), explode(col("positions")).as("pos"))
    val m = pos.as("a")
      .join(broadcast(phraseFrame(s)), col("a.term") === col("w1"))
      .join(pos.as("b"),
        col("b.doc_id") === col("a.doc_id") &&
          col("b.pos") === col("a.pos") + 1 && col("b.term") === col("w2"))
      .groupBy(col("p_id"), col("a.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    val w = Window.partitionBy("p_id").orderBy(col("n_occ").desc, col("doc_id"))
    m.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select("p_id", "rank", "doc_id", "n_occ")
      .orderBy("p_id", "rank")
  }

  /** Compact the inverted index after many appends — the small-file
    * maintenance step mirroring `compactIvfIndex`: every append adds one
    * file per touched bucket, and a year of micro-batches turns the term
    * probe into thousands-of-tiny-files IO. Delegates to the shared
    * bucketed-index compaction
    * ([[graft.sources.Tombstones.compactBucketedIndex]]): the probe-visible
    * postings (base minus tombstones plus any open update window's delta
    * batches) are rewritten one file per bucket to a fresh location, and
    * the serving table moves there with one `ALTER TABLE .. SET LOCATION`
    * statement, so every crash point leaves one location serving. Content
    * — postings rows and stats — is unchanged, so every probe result is
    * preserved (pinned in PartitionBucketSpec); stats were already
    * decremented at delete time, so folding the tombstones in changes no
    * probe result either. The search index anchors its manifest (stats
    * pointer + tombstones) at the immutable build `path`, so the
    * compaction passes that anchor: the tombstone-clearing epoch keeps the
    * stats pointer alive across the location move and records the old
    * location as retired. Reclaim is deferred — the old location stays on
    * disk, so a probe planned before the fold still executes after it, and
    * [[graft.sources.Tombstones.vacuum]] reclaims it later.
    */
  def compactSearchIndex(s: SparkSession, table: String, path: String): Unit =
    graft.sources.Tombstones.compactBucketedIndex(
      s, table, visiblePostings(s, table, path), Some(path))

  /** The WAND seed-pool pricing curve: per pool multiple, exact candidate
    * count, fully-scored count (survivors ∪ pool), and realized skip ppm —
    * the measurement behind [[WAND_POOL_MULTIPLE]]'s operating rule.
    * The four pool sizes SHARE every expensive stage (one tokenization,
    * one UB ranking, one full-scoring of the largest pool — a smaller
    * pool is a prefix of the ub-rank order, so its θ derives from the
    * same scored frame); only the per-m θ windows and count aggregates
    * branch, which is why this measurement costs ≈ one serving probe, not
    * four.
    */
  private[graft] def wandPoolCurve(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = QUERY_TERMS.flatMap(_._2).distinct
    val p = Materialize(
      postingsOf(docs.select(col("doc_id"), col("text"), col("lang")))
        .filter(col("term").isin(terms: _*))
        .select("term", "doc_id", "tf", "dl"))
    val stats = statsOf(docs)
    val q = queryTerms(s)
    val ms = Seq(1L, 2L, 5L, 10L)
    val maxM = ms.max
    // one UB derivation + one ub-rank (identical for every pool size)
    val perTerm = p.groupBy("term").agg(
      count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))
    val ubF = perTerm.select(col("term"), col("df"),
        col("max_tf").as("tf"), col("min_dl").as("dl"))
      .crossJoin(broadcast(stats))
      .withColumn("ub", expr(scoreExpr("div")))
      .select("term", "df", "ub")
    val wub = Window.partitionBy("q_id").orderBy(col("ub_sum").desc, col("doc_id"))
    val ranked = Materialize(
      p.select("term", "doc_id")
        .join(broadcast(q), Seq("term"))
        .join(broadcast(ubF.select("term", "ub")), Seq("term"))
        .groupBy("q_id", "doc_id").agg(sum(col("ub")).as("ub_sum"))
        .withColumn("ubrn", row_number().over(wub)))
    // one full-scoring of the LARGEST pool; every smaller pool is an
    // ubrn-prefix of it, so each θ_m ranks within the same frame
    val fullPool = Materialize(
      p.join(broadcast(q), Seq("term"))
        .join(broadcast(ranked.filter(col("ubrn") <= maxM * TOP_K)
          .select("q_id", "doc_id", "ubrn")), Seq("q_id", "doc_id"), "inner")
        .join(broadcast(ubF.select("term", "df")), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("score_t", expr(scoreExpr("div")))
        .groupBy("q_id", "doc_id", "ubrn").agg(sum(col("score_t")).as("score")))
    val wq = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    val rows = ms.map { m =>
      val theta = fullPool.filter(col("ubrn") <= m * TOP_K)
        .withColumn("rk", row_number().over(wq))
        .filter(col("rk") === TOP_K)
        .select(col("q_id"), col("score").as("theta"))
      val survivors = ranked.join(broadcast(theta), Seq("q_id"), "left")
        .filter(col("theta").isNull || col("ub_sum") >= col("theta"))
        .select("q_id", "doc_id")
      val scoredSet = survivors.unionByName(
          ranked.filter(col("ubrn") <= m * TOP_K).select("q_id", "doc_id"))
        .distinct()
      ranked.agg(count(lit(1)).as("n_cands"))
        .crossJoin(scoredSet.agg(count(lit(1)).as("n_scored")))
        .select(lit(m).as("pool_multiple"), col("n_cands"), col("n_scored"))
    }
    rows.reduce(_ unionByName _)
      // a corpus where no query term matches has zero candidates (the
      // EdgeCorpusSpec degenerate corpora) — skip is 0 by definition there
      .withColumn("skip_ppm",
        expr("CASE WHEN n_cands = 0 THEN 0 " +
          "ELSE (n_cands - n_scored) * 1000000 div n_cands END"))
      .orderBy("pool_multiple")
  }

  // ---- registry -----------------------------------------------------------

  val defs: Seq[GQuery] = Seq(

    GQuery(
      "search_bm25_topk",
      (s, dir) => bm25Inline(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH ${bm25Sql()}
              |SELECT q_id, rank, doc_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- BM25 under deletion: the takedown contract, inline -----------------
    // What a probe must return after documents are deleted from the
    // persisted index (doc_id % 7 = 3 here): the self-contained ranking
    // over the SURVIVING corpus — candidates gone, per-term df shrunk, and
    // the 1-row stats (n_docs, tt) decremented, so every surviving score
    // changes too (IDF and length normalization are corpus-global; a
    // deletion that only dropped candidate rows would mis-rank survivors).
    // That is exactly what deleteFromSearchIndex + bm25ProbeIndex compute
    // — stats decremented at delete time, df derived after the tombstone
    // anti-join — pinned equal to this entry (and to a rebuilt index) in
    // TombstoneSpec.
    GQuery(
      "search_bm25_deleted",
      (s, dir) => bm25OverDocs(s,
          Tables.documents(s, dir).filter(!(col("doc_id") % 7 === 3)))
        .orderBy("q_id", "rank"),
      Some(s"""WITH $queryTermsSql,
              |${bm25ShardSql("del_", "NOT (doc_id % 7 = 3)")}
              |SELECT q_id, rank, doc_id, score FROM del_ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- WAND pruning EXECUTED (the audit's skip, taken in serving) --------
    // search_wand_bound proves which candidates are skippable; this entry
    // actually skips them: the two-phase bm25WandRank scores only
    // UB-surviving candidates, and the ORACLE is deliberately the plain
    // search_bm25_topk ranking — the hash match IS the proof that pruning
    // loses nothing (the ann_sharded_topk proof technique). df here is
    // derived from the query-term postings (count per term == distinct
    // docs per term — postings are one row per (term, doc)), identical to
    // the full toks derivation for those terms. SearchSpec pins the
    // index-served twin and the realized skip fraction vs the audit.
    GQuery(
      "search_bm25_wand",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val terms = QUERY_TERMS.flatMap(_._2).distinct
        val p = postingsOf(docs.select("doc_id", "text", "lang"))
          .filter(col("term").isin(terms: _*))
          .select("term", "doc_id", "tf", "dl")
        bm25WandRank(p, statsOf(docs), queryTerms(s))._1.orderBy("q_id", "rank")
      },
      Some(s"""WITH ${bm25Sql()}
              |SELECT q_id, rank, doc_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- WAND θ-seed pool pricing curve -------------------------------------
    // The one knob in the executed WAND path, priced (the
    // ann_rp_recall_vs_depth discipline applied to the lexical tier): for
    // pool multiples m ∈ {1,2,5,10}, the exact candidate count, the docs
    // actually fully scored (θ-survivors ∪ the m·K seed pool — honest
    // accounting, a pruned seed was still paid), and the realized skip
    // fraction in ppm. The curve shows the plateau the operating rule
    // reads: skip jumps from m=1 (θ_est far below θ_true, little pruned)
    // to the m where the pool almost surely contains the true top-K, then
    // flattens while seed cost keeps growing linearly — WAND_POOL_MULTIPLE
    // sits at the smallest plateau point. Everything rides the integer
    // micro grid, so the DuckDB twin reproduces the curve bit-exactly.
    GQuery(
      "search_wand_pool_curve",
      (s, dir) => wandPoolCurve(s, dir),
      Some(s"""WITH ${bm25Sql()},
              |wperm AS (SELECT term, df, CAST(MAX(tf) AS BIGINT) AS tf,
              |    CAST(MIN(dl) AS BIGINT) AS dl
              |  FROM tft JOIN dlt USING (doc_id) JOIN dft USING (term)
              |  JOIN (SELECT DISTINCT term FROM q) USING (term)
              |  GROUP BY term, df),
              |wub AS (SELECT term, ${scoreExpr("//")} AS ub FROM wperm CROSS JOIN stats),
              |wubsum AS (SELECT q_id, tft.doc_id, CAST(SUM(ub) AS BIGINT) AS ub_sum
              |  FROM tft JOIN q USING (term) JOIN wub USING (term) GROUP BY 1, 2),
              |wrnk AS (SELECT q_id, doc_id, ub_sum,
              |    row_number() OVER (PARTITION BY q_id ORDER BY ub_sum DESC, doc_id) AS ubrn
              |  FROM wubsum),
              |wpools AS (SELECT unnest([1, 2, 5, 10]) AS m),
              |wth AS (SELECT m, q_id, score AS theta FROM (
              |    SELECT p.m, w.q_id, a.score, a.doc_id,
              |      row_number() OVER (PARTITION BY p.m, w.q_id
              |        ORDER BY a.score DESC, a.doc_id) AS rk
              |    FROM wrnk w JOIN wpools p ON w.ubrn <= p.m * $TOP_K
              |    JOIN aggd a ON a.q_id = w.q_id AND a.doc_id = w.doc_id)
              |  WHERE rk = $TOP_K),
              |wsurv AS (SELECT p.m, u.q_id, u.doc_id
              |  FROM wubsum u CROSS JOIN wpools p
              |  LEFT JOIN wth t ON t.m = p.m AND t.q_id = u.q_id
              |  WHERE t.theta IS NULL OR u.ub_sum >= t.theta),
              |wscored AS (SELECT m, q_id, doc_id FROM wsurv
              |  UNION SELECT p.m, w.q_id, w.doc_id
              |    FROM wrnk w JOIN wpools p ON w.ubrn <= p.m * $TOP_K),
              |wtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cands FROM wubsum),
              |-- rows are driven from wpools (not wscored) so a corpus where no
              |-- query term matches still yields one all-zero row per pool size,
              |-- matching the Scala side's global-aggregate rows
              |wcnt AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_scored
              |  FROM wscored GROUP BY m)
              |SELECT CAST(p.m AS BIGINT) AS pool_multiple, t.n_cands,
              |  CAST(COALESCE(c.n_scored, 0) AS BIGINT) AS n_scored,
              |  CASE WHEN t.n_cands = 0 THEN 0
              |    ELSE (t.n_cands - CAST(COALESCE(c.n_scored, 0) AS BIGINT))
              |      * 1000000 // t.n_cands
              |  END AS skip_ppm
              |FROM wpools p CROSS JOIN wtot t LEFT JOIN wcnt c ON c.m = p.m
              |ORDER BY pool_multiple""".stripMargin)
    ),

    GQuery(
      // Result snippeting — the serving feature beside ranking: for each
      // query's top-3 BM25 hits, the 16-token window containing the most
      // query-term occurrences (ties to the earliest start, so the choice
      // is total-ordered). Window scores come from a RANGE frame over the
      // token position (CURRENT ROW .. 15 FOLLOWING) — one pass per doc,
      // no self-join of positions. Scale: snippeting keys on the TOP HITS
      // only (k·n_queries docs), so the token explode touches a bounded
      // handful of documents regardless of corpus size — the ranking
      // already did the heavy lifting; a serving tier would point-look-up
      // the doc text by id exactly as knnNeighborsFromGraph does.
      "search_snippet_window",
      (s, dir) => {
        val W = 16
        val top = bm25Inline(s, dir).filter(col("rank") <= 3)
          .select("q_id", "doc_id")
        val dtoks = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
        val toks = top.join(dtoks, "doc_id")
          .select(col("q_id"), col("doc_id"), col("ts"),
            posexplode(col("ts")).as(Seq("p", "token")))
        val qt = queryTerms(s)
          .withColumnRenamed("term", "token").withColumn("hit", lit(1L))
        val marked = toks.join(broadcast(qt), Seq("q_id", "token"), "left")
          .select(col("q_id"), col("doc_id"), col("ts"),
            col("p").cast("long").as("pos"),
            coalesce(col("hit"), lit(0L)).as("hit"))
        val ww = Window.partitionBy("q_id", "doc_id").orderBy("pos")
          .rangeBetween(0, W - 1)
        val rw = Window.partitionBy("q_id", "doc_id")
          .orderBy(col("wscore").desc, col("pos"))
        marked.withColumn("wscore", sum("hit").over(ww))
          .withColumn("rn", row_number().over(rw)).filter(col("rn") === 1)
          .withColumn("snippet",
            expr(s"array_join(slice(ts, CAST(pos AS INT) + 1, $W), ' ')"))
          .select(col("q_id"), col("doc_id"), col("pos").as("win_start"),
            col("wscore").as("win_hits"), col("snippet"))
          .orderBy("q_id", "doc_id")
      },
      Some(s"""WITH ${bm25Sql()},
              |top3 AS (SELECT q_id, doc_id FROM ranked WHERE rank <= 3),
              |dtoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
              |ptoks AS (SELECT q_id, t.doc_id, ts,
              |    unnest(range(1, len(ts) + 1)) AS i
              |  FROM top3 t JOIN dtoks USING (doc_id)),
              |marked AS (SELECT p.q_id, p.doc_id, p.ts,
              |    CAST(p.i - 1 AS BIGINT) AS pos,
              |    CASE WHEN q.term IS NOT NULL THEN 1 ELSE 0 END AS hit
              |  FROM (SELECT *, ts[i] AS token FROM ptoks) p
              |  LEFT JOIN q ON p.q_id = q.q_id AND p.token = q.term),
              |wins AS (SELECT *, CAST(SUM(hit) OVER (PARTITION BY q_id, doc_id
              |    ORDER BY pos RANGE BETWEEN CURRENT ROW AND 15 FOLLOWING) AS BIGINT) AS wscore
              |  FROM marked),
              |best AS (SELECT * FROM (SELECT *, row_number() OVER (
              |    PARTITION BY q_id, doc_id ORDER BY wscore DESC, pos) AS rn
              |  FROM wins) WHERE rn = 1)
              |SELECT q_id, doc_id, pos AS win_start, wscore AS win_hits,
              |  array_to_string(ts[(CAST(pos AS INT) + 1):(CAST(pos AS INT) + 16)], ' ') AS snippet
              |FROM best ORDER BY q_id, doc_id""".stripMargin)
    ),

    GQuery(
      // "Did you mean" — spell correction of query terms the corpus has
      // never seen: top-3 vocabulary candidates within edit distance 2,
      // ranked by (distance asc, df desc, term) so a common word beats a
      // rare one at equal distance. Both engines run the same classic DP
      // levenshtein (the dedup_edit_distance precedent), so every distance
      // is oracle-exact. Scale shape: the probe side is a handful of
      // misspelled terms BROADCAST against the distinct-term census (vocab-
      // bounded, orders of magnitude under corpus size), pre-pruned by the
      // |length difference| <= 2 band — the cheap necessary condition that
      // discards most of the vocabulary before any DP runs. A hopeless
      // probe ('zzzzqqq') correctly yields no row.
      "search_spell_correct",
      (s, dir) => {
        val vocab = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val cand = vocab.join(broadcast(misspelledFrame(s)),
            abs(length(col("term")) - length(col("m_term"))) <= 2)
          .withColumn("dist", levenshtein(col("term"), col("m_term")).cast("long"))
          .filter(col("dist") <= 2)
        val w = Window.partitionBy("m_id")
          .orderBy(col("dist"), col("df").desc, col("term"))
        cand.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("m_id"), col("m_term"), col("rank"),
            col("term").as("suggestion"), col("dist"), col("df"))
          .orderBy("m_id", "rank")
      },
      Some(s"""WITH vocab AS (SELECT term, $countStarSql AS df FROM (
              |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
              |  GROUP BY term),
              |$misspelledSql,
              |cand AS (SELECT m_id, m_term, term,
              |    CAST(levenshtein(term, m_term) AS BIGINT) AS dist, df
              |  FROM vocab JOIN mis ON abs(len(term) - len(m_term)) <= 2
              |  WHERE levenshtein(term, m_term) <= 2),
              |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY m_id
              |    ORDER BY dist, df DESC, term) AS BIGINT) AS rank FROM cand)
              |SELECT m_id, m_term, rank, term AS suggestion, dist, df
              |FROM ranked WHERE rank <= 3 ORDER BY m_id, rank""".stripMargin)
    ),

    GQuery(
      // Autocomplete — the third query-assist beside spell correction and
      // phrase search: top-5 vocabulary completions per prefix, ranked by
      // (df desc, term). startswith is a sargable prefix-range predicate:
      // on a term-ordered vocabulary table it prunes to one contiguous key
      // range (min-max stats skip everything else), which is exactly how a
      // serving tier lays the census out; the probe side is a 4-row
      // broadcast. The 'zz' prefix matches nothing and yields no row.
      "search_autocomplete",
      (s, dir) => {
        val prefixes = s.createDataFrame(
            Seq((0L, "sp"), (1L, "jo"), (2L, "ve"), (3L, "zz")))
          .toDF("p_id", "prefix")
        val vocab = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val cand = vocab.join(broadcast(prefixes),
          col("term").startsWith(col("prefix")))
        val w = Window.partitionBy("p_id").orderBy(col("df").desc, col("term"))
        cand.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("p_id"), col("prefix"), col("rank"),
            col("term").as("completion"), col("df"))
          .orderBy("p_id", "rank")
      },
      Some(s"""WITH vocab AS (SELECT term, $countStarSql AS df FROM (
              |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
              |  GROUP BY term),
              |pre(p_id, prefix) AS (VALUES (CAST(0 AS BIGINT), 'sp'), (1, 'jo'),
              |  (2, 've'), (3, 'zz')),
              |cand AS (SELECT p_id, prefix, term, df FROM vocab
              |  JOIN pre ON starts_with(term, prefix)),
              |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY p_id
              |    ORDER BY df DESC, term) AS BIGINT) AS rank FROM cand)
              |SELECT p_id, prefix, rank, term AS completion, df
              |FROM ranked WHERE rank <= 5 ORDER BY p_id, rank""".stripMargin)
    ),

    // Filtered lexical search: top-k among documents matching a metadata
    // predicate ("English docs only") — the lexical twin of
    // ann_filtered_topk. IDF/length stats stay corpus-global (an index
    // property); only the candidate postings are filtered. The persisted
    // twin pushes the predicate to the term-pruned postings scan
    // (bm25FilteredTopkFromIndex, pinned in PartitionBucketSpec).
    GQuery(
      "search_bm25_filtered",
      (s, dir) => bm25Inline(s, dir, col("lang") === "en").orderBy("q_id", "rank"),
      Some(s"""WITH ${bm25Sql("lang = 'en'")}
              |SELECT q_id, rank, doc_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // Sharded retrieval: doc-parity shards score independently with
    // shard-local stats and only their top-k rank lists reach the merger —
    // see the sharded-BM25 section comment for the topology contract.
    GQuery(
      "search_sharded_rrf",
      (s, dir) => shardedBm25Inline(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $shardedSql
              |SELECT q_id, rank, doc_id, rrf_micro FROM shfinal WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // The sharding fidelity audit: how many of the single-corpus top-10
    // does the shard-merged top-10 recover, per query — the measured
    // agreement@10 that prices the rank-list-merge topology (global stats
    // never ship, so per-shard IDF skew is the accuracy cost being
    // measured).
    GQuery(
      "search_sharded_agreement",
      (s, dir) => {
        val g = bm25Inline(s, dir).select("q_id", "doc_id")
        val sh = shardedBm25Inline(s, dir)
          .select(col("q_id"), col("doc_id"), lit(1).as("m"))
        g.join(sh, Seq("q_id", "doc_id"), "left")
          .groupBy("q_id").agg(count(col("m")).as("n_overlap"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${bm25Sql()},
              |$shardedSqlBody
              |SELECT g.q_id, CAST(COUNT(sh.doc_id) AS BIGINT) AS n_overlap
              |FROM (SELECT q_id, doc_id FROM ranked WHERE rank <= $TOP_K) g
              |LEFT JOIN (SELECT q_id, doc_id FROM shfinal WHERE rank <= $TOP_K) sh
              |  ON g.q_id = sh.q_id AND g.doc_id = sh.doc_id
              |GROUP BY g.q_id ORDER BY g.q_id""".stripMargin),
      bench = false // embeds both the sharded AND single-corpus ranked lists — an offline audit, not a serving path
    ),

    // The OTHER sharding topology, priced against rank-merge: shards ship
    // their stats PARTIALS (n_docs, tt, per-term df — a few rows, the
    // Elasticsearch DFS move) to be summed and broadcast back, score with
    // the merged GLOBAL stats, and merge by score. Because every per-doc
    // score is then identical to the single-corpus score, top-k of the
    // unioned shard top-ks IS the global top-k — and the oracle below is
    // deliberately the plain single-corpus BM25: the hash match is the
    // exactness proof, not an approximation audit. Cost of exactness: one
    // tiny control-plane round trip per query batch that pure rank-merge
    // (search_sharded_rrf, agreement@10 = 10/9/7/9) avoids.
    GQuery(
      "search_sharded_exact",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val shards = (0 to 1).map(i =>
          docs.filter(pmod(col("doc_id"), lit(2)) === i)
            .select("doc_id", "text", "lang"))
        val stats = shards.map(d => d.agg(
            count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("tt")))
          .reduce(_ unionByName _)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("tt")).as("tt"))
        val dfG = shards.map(d =>
            d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
              .select("doc_id", "term").distinct()
              .groupBy("term").agg(count(lit(1)).as("df")))
          .reduce(_ unionByName _)
          .groupBy("term").agg(sum(col("df")).as("df"))
        val lists = shards.map(d => bm25Rank(postingsOf(d), dfG, stats, queryTerms(s)))
        val merged = lists.reduce(_ unionByName _)
        val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
        merged.select("q_id", "doc_id", "score")
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TOP_K)
          .select("q_id", "rank", "doc_id", "score")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${bm25Sql()}
              |SELECT q_id, rank, doc_id, score FROM ranked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // Hybrid retrieval: BM25 top-10 fused with cosine top-10 by reciprocal
    // rank fusion — rrf = Σ_lists 1e6 div (60 + rank), pure integer so the
    // fusion can never drift cross-engine even though the vector ranks come
    // from double cosines (identical operation trees, the ANN parity
    // contract). Docs in only one list get that list's contribution. The
    // vector side broadcasts 4 query vectors against the corpus — linear
    // scan, no corpus shuffle; at 100 TB it would swap in an index probe
    // (ivfTopkFromIndex) without touching the fusion.
    GQuery(
      "search_hybrid_rrf",
      (s, dir) => hybridInline(s, dir),
      Some(s"""WITH ${bm25Sql()},
              |$hybridSqlBlock
              |SELECT q_id, rank, doc_id, rrf_micro FROM franked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- hybrid over a CONSISTENT mid-ingest snapshot ------------------------
    // The registered twin of [[hybridTopkFromIndexesConsistent]]'s serving
    // read at the staged mid-group state: a corpus ingest group
    // (runCorpusIngest) committed batch 0 to BOTH the lexical and the
    // vector index but batch 1 only to the lexical one (the exact state a
    // crash or an in-flight trigger leaves between sibling commits), so
    // the newest mutually consistent corpus is the COMMON PREFIX —
    // bootstrap (id % 4 <> 3) plus batch 0 (id % 8 = 3). This entry is
    // the hybrid over that prefix with each side's index semantics: BM25
    // with SELF-CONTAINED df/stats over the prefix corpus (an epoch's
    // stored stats reflect exactly its own corpus — bm25OverDocs), the
    // vector side an IVF PROBE (seeds from the full corpus — the
    // writeIvfIndexWhere frozen-geometry invariant — assignment restricted
    // to the prefix, N_PROBE probed cells), fused by the same integer RRF.
    // StreamingSpec pins the LIVE consistent read — two indexes resolved
    // at their min common (lineage, batch-id) fence via as-of epochs —
    // row-for-row equal to this entry; the driver's DuckDB compare proves
    // the entry itself. Batch 1 (id % 8 = 7) must be INVISIBLE here even
    // though the lexical index has committed it.
    GQuery(
      "search_hybrid_snapshot",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
        val dPre = col("doc_id") % 4 =!= 3 || col("doc_id") % 8 === 3
        val bm = bm25OverDocs(s, docs.filter(dPre))
          .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
        val vr = SimilarityQueries.ivfTopkWith(s, dir,
            SimilarityQueries.seedSet(VectorOps.normalized(s, dir)),
            expr("vec_id % 4 <> 3 OR vec_id % 8 = 3"))
          // the hybrid's query set (this family's N_QUERIES), not the
          // vector family's own probe set — per-query lists are
          // independent, so the post-filter equals probing 4 queries
          .filter(col("q_id") < N_QUERIES)
          .select(col("q_id"), col("cand_id").as("doc_id"), col("rank").as("rank_v"))
        rrfFuse(bm, vr)
      },
      Some(s"""WITH hsdocs AS (SELECT * FROM documents WHERE doc_id % 4 <> 3 OR doc_id % 8 = 3),
              |${bm25Sql(docsFrom = "hsdocs")},
              |bm AS (SELECT q_id, doc_id, rank AS rank_t FROM ranked WHERE rank <= $TOP_K),
              |${VectorOps.normalizedSql},
              |hsseeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn FROM e
              |  WHERE vec_id < ${SimilarityQueries.N_SEEDS}),
              |hsassign0 AS (SELECT e.vec_id, e.v, e.nrm, hsseeds.seed_id,
              |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    ${VectorOps.cosSql("e.v", "hsseeds.sv", "e.nrm", "hsseeds.sn")} DESC, hsseeds.seed_id) AS rn
              |  FROM e CROSS JOIN hsseeds),
              |hsassign AS (SELECT vec_id, v, nrm, seed_id FROM hsassign0
              |  WHERE rn = 1 AND (vec_id % 4 <> 3 OR vec_id % 8 = 3)),
              |hsq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
              |hsprobes0 AS (SELECT hsq.q_id, hsq.qv, hsq.qn, hsseeds.seed_id,
              |  row_number() OVER (PARTITION BY hsq.q_id ORDER BY
              |    ${VectorOps.cosSql("hsq.qv", "hsseeds.sv", "hsq.qn", "hsseeds.sn")} DESC, hsseeds.seed_id) AS rn
              |  FROM hsq CROSS JOIN hsseeds),
              |hsprobes AS (SELECT q_id, qv, qn, seed_id FROM hsprobes0
              |  WHERE rn <= ${SimilarityQueries.N_PROBE}),
              |hscand AS (SELECT DISTINCT hsprobes.q_id, hsassign.vec_id AS doc_id,
              |  ${VectorOps.cosSql("hsprobes.qv", "hsassign.v", "hsprobes.qn", "hsassign.nrm")} AS cos
              |  FROM hsprobes JOIN hsassign ON hsprobes.seed_id = hsassign.seed_id
              |  WHERE hsassign.vec_id <> hsprobes.q_id),
              |hsvr0 AS (SELECT q_id, doc_id,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_v
              |  FROM hscand),
              |vr AS (SELECT q_id, doc_id, rank_v FROM hsvr0 WHERE rank_v <= $TOP_K),
              |fused AS (SELECT COALESCE(bm.q_id, vr.q_id) AS q_id,
              |    COALESCE(bm.doc_id, vr.doc_id) AS doc_id,
              |    COALESCE(1000000 // ($RRF_K + rank_t), 0) +
              |    COALESCE(1000000 // ($RRF_K + rank_v), 0) AS rrf_micro
              |  FROM bm FULL JOIN vr ON bm.q_id = vr.q_id AND bm.doc_id = vr.doc_id),
              |franked AS (SELECT q_id, doc_id, rrf_micro,
              |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
              |  FROM fused)
              |SELECT q_id, rank, doc_id, rrf_micro FROM franked WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- retrieval-quality audit: MRR / precision@10 per system -------------
    // The search twin of ann_recall/ann_pq_recall: measure BOTH end-to-end
    // systems (bm25, hybrid) against a deterministic relevance oracle — a
    // doc is relevant to a query iff it contains >= 2 DISTINCT query terms.
    // Metrics in exact integer arithmetic: mrr_micro = 1e6 div (rank of the
    // first relevant hit, 0 if none in the top-10), p10_micro = hits·1e6
    // div 10 — no IEEE mean can drift. The relevance join is
    // broadcast-tiny; everything else reuses the two ranked lists.
    GQuery(
      "search_eval_mrr",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val rel = toks.distinct()
          .join(broadcast(queryTerms(s)), Seq("term"))
          .groupBy("q_id", "doc_id").agg(countDistinct(col("term")).as("nq"))
          .filter(col("nq") >= 2)
          .select(col("q_id"), col("doc_id"), lit(1).as("is_rel"))
        val lists = bm25Inline(s, dir)
          .select(col("q_id"), col("doc_id"), col("rank"), lit("bm25").as("system"))
          .unionByName(hybridInline(s, dir)
            .select(col("q_id"), col("doc_id"), col("rank"), lit("hybrid").as("system")))
        lists.join(broadcast(rel), Seq("q_id", "doc_id"), "left")
          .groupBy("system", "q_id")
          .agg(
            count(when(col("is_rel").isNotNull, 1)).as("n_rel_top10"),
            expr("coalesce(1000000 div min(CASE WHEN is_rel IS NOT NULL THEN rank END), 0)")
              .as("mrr_micro"),
            expr("count(CASE WHEN is_rel IS NOT NULL THEN 1 END) * 1000000 div 10")
              .as("p10_micro"))
          .orderBy("system", "q_id")
      },
      Some(s"""WITH ${bm25Sql()},
              |$hybridSqlBlock,
              |rel AS (SELECT q.q_id, t.doc_id, 1 AS is_rel
              |  FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN q USING (term)
              |  GROUP BY q.q_id, t.doc_id HAVING COUNT(DISTINCT term) >= 2),
              |lists AS (
              |  SELECT q_id, doc_id, rank, 'bm25' AS system FROM ranked WHERE rank <= $TOP_K
              |  UNION ALL
              |  SELECT q_id, doc_id, rank, 'hybrid' AS system FROM franked WHERE rank <= $TOP_K),
              |j AS (SELECT lists.system, lists.q_id, lists.rank, rel.is_rel
              |  FROM lists LEFT JOIN rel
              |    ON lists.q_id = rel.q_id AND lists.doc_id = rel.doc_id)
              |SELECT system, q_id,
              |  CAST(COUNT(CASE WHEN is_rel IS NOT NULL THEN 1 END) AS BIGINT) AS n_rel_top10,
              |  CAST(COALESCE(1000000 // MIN(CASE WHEN is_rel IS NOT NULL THEN rank END), 0) AS BIGINT) AS mrr_micro,
              |  CAST(COUNT(CASE WHEN is_rel IS NOT NULL THEN 1 END) * 1000000 // 10 AS BIGINT) AS p10_micro
              |FROM j GROUP BY system, q_id ORDER BY system, q_id""".stripMargin),
      bench = false // embeds both full ranked lists — an offline audit, not a serving path
    ),

    // ---- phrase search over positional postings ------------------------------
    // The phrase-capable index: (doc_id, pos, token) positional postings,
    // phrase match = equi-join of the two words' postings on (doc_id,
    // adjacency). Both engines join on pos_b = pos_a + 1 with each engine's
    // own position base (0 vs 1), which cancels in the difference. At
    // 100 TB the persisted form adds pos to the bucketed postings rows and
    // probes restrict to the PHRASE WORDS' postings first (term In-list +
    // bucket pruning, exactly the BM25 probe shape) before the adjacency
    // join — candidates are bounded by the rarer word's df, never the
    // corpus. Top-10 matching docs per phrase by occurrence count.
    GQuery(
      "search_phrase_match",
      (s, dir) => {
        val pos = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        val m = pos.as("a")
          .join(broadcast(phraseFrame(s)), col("a.token") === col("w1"))
          .join(pos.as("b"),
            col("b.doc_id") === col("a.doc_id") &&
              col("b.pos") === col("a.pos") + 1 && col("b.token") === col("w2"))
          .groupBy(col("p_id"), col("a.doc_id").as("doc_id"))
          .agg(count(lit(1)).as("n_occ"))
        val w = Window.partitionBy("p_id").orderBy(col("n_occ").desc, col("doc_id"))
        m.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TOP_K)
          .select("p_id", "rank", "doc_id", "n_occ")
          .orderBy("p_id", "rank")
      },
      Some(s"""WITH pt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |p2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM pt),
              |ptok AS (SELECT doc_id, pos, toks[pos] AS token FROM p2),
              |$phraseSql,
              |m AS (SELECT ph.p_id, a.doc_id, $countStarSql AS n_occ
              |  FROM ptok a JOIN ph ON a.token = ph.w1
              |  JOIN ptok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.token = ph.w2
              |  GROUP BY ph.p_id, a.doc_id),
              |ranked AS (SELECT p_id, doc_id, n_occ,
              |  CAST(row_number() OVER (PARTITION BY p_id ORDER BY n_occ DESC, doc_id) AS BIGINT) AS rank
              |  FROM m)
              |SELECT p_id, rank, doc_id, n_occ FROM ranked WHERE rank <= $TOP_K
              |ORDER BY p_id, rank""".stripMargin)
    ),

    // ---- k-word phrase search (the n-ary completion of the pair above) ------
    // Every word's positions normalize to the phrase start and the k−1
    // position joins become plain equi-joins on (doc_id, start) — n_occ is
    // the surviving start count, so the same machinery serves any phrase
    // length (a 4-word probe is pinned in PartitionBucketSpec). The
    // index-served twin [[phraseKMatchFromIndex]] anchors the chain on the
    // RAREST word from the index's own df, bounding every join by the
    // smallest posting list; the oracle's left-to-right chain proves
    // anchoring changes the plan, never the rows.
    GQuery(
      "search_phrase_kmatch",
      (s, dir) => phraseKInline(s, dir),
      Some(s"""WITH $phraseKSql
              |SELECT p_id, rank, doc_id, n_occ FROM krank WHERE rank <= $TOP_K
              |ORDER BY p_id, rank""".stripMargin)
    ),

    // ---- WAND upper-bound pruning audit (Broder et al., CIKM 2003) ----------
    // The serving-tier skip arithmetic made auditable: per term, the index
    // stores UB_t = max over docs of that term's BM25 partial score (one
    // BIGINT per term — index-build metadata that rides the postings
    // bucketing, maintained by the same per-term aggregate that computes
    // df). At query time a candidate doc can only enter the top-K if the
    // SUM of its matched query terms' UBs reaches θ = the current K-th
    // best full score, so docs with ub_sum < θ are skipped without
    // fetching their postings payloads — the two-level evaluation that
    // makes a 100 TB lexical tier traverse a fraction of its candidate
    // postings. This audit computes, per query: the candidate count, how
    // many candidates the final θ proves skippable, θ itself, and the
    // SAFETY INVARIANT n_false_skips = |{skippable docs whose true score
    // ≥ θ}| — ZERO by the UB argument (ub_sum ≥ true score, term by
    // term), and the oracle re-derives it so a scoring/UB drift that
    // breaks the guarantee fails the row, not just a recall curve.
    // Everything stays on the exact integer micro grid of scoreExpr; the
    // only new shuffle is the per-term max (same key as df).
    GQuery(
      "search_wand_bound",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val dfF = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val stats = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tt"))
        val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // every (doc, term) partial score once; query membership only
        // selects terms, so UB_t is query-independent index metadata
        val scored = tf.join(dl, "doc_id")
          .join(broadcast(dfF), "term")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("term"), expr(scoreExpr("div")).as("score_t"))
        val ub = scored.groupBy("term").agg(max(col("score_t")).as("ub"))
        val q = broadcast(queryTerms(s))
        val qScored = scored.join(q, "term")
        val full = qScored.groupBy("q_id", "doc_id").agg(sum(col("score_t")).as("score"))
        val ubSum = tf.join(q, "term").join(broadcast(ub), "term")
          .groupBy("q_id", "doc_id").agg(sum(col("ub")).as("ub_sum"))
        val wq = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
        val theta = full.withColumn("rk", row_number().over(wq))
          .filter(col("rk") === TOP_K)
          .select(col("q_id"), col("score").as("theta"))
        // LEFT join: a query with < K candidates has no threshold yet, so
        // WAND can skip nothing — report theta 0 / skippable 0 instead of
        // silently dropping the query (degenerate-corpus honesty; the
        // driver corpus always fills the top-K)
        full.join(ubSum, Seq("q_id", "doc_id"))
          .join(broadcast(theta), Seq("q_id"), "left")
          .groupBy("q_id").agg(
            count(lit(1)).as("n_cands"),
            sum(when(col("ub_sum") < col("theta"), 1L).otherwise(0L)).as("n_skippable"),
            sum(when(col("ub_sum") < col("theta") && col("score") >= col("theta"), 1L)
              .otherwise(0L)).as("n_false_skips"),
            coalesce(max(col("theta")), lit(0L)).as("theta"))
          .orderBy("q_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |dlt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
              |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tt FROM documents),
              |tft AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
              |dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
              |${queryTermsSql},
              |scored AS (SELECT tft.doc_id, tft.term, CAST(${scoreExpr("//")} AS BIGINT) AS score_t
              |  FROM tft JOIN dft USING (term) JOIN dlt ON tft.doc_id = dlt.doc_id CROSS JOIN stats),
              |ub AS (SELECT term, MAX(score_t) AS ub FROM scored GROUP BY term),
              |full_s AS (SELECT q.q_id, s.doc_id, CAST(SUM(s.score_t) AS BIGINT) AS score
              |  FROM scored s JOIN q USING (term) GROUP BY 1, 2),
              |ubs AS (SELECT q.q_id, tft.doc_id, CAST(SUM(ub.ub) AS BIGINT) AS ub_sum
              |  FROM tft JOIN q USING (term) JOIN ub USING (term) GROUP BY 1, 2),
              |theta AS (SELECT q_id, score AS theta FROM (
              |  SELECT q_id, score, row_number() OVER (PARTITION BY q_id
              |    ORDER BY score DESC, doc_id) AS rk FROM full_s) WHERE rk = $TOP_K)
              |SELECT f.q_id, CAST(COUNT(*) AS BIGINT) AS n_cands,
              |  CAST(SUM(CASE WHEN ub_sum < theta THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
              |  CAST(SUM(CASE WHEN ub_sum < theta AND score >= theta THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_false_skips,
              |  CAST(COALESCE(MAX(theta), 0) AS BIGINT) AS theta
              |FROM full_s f JOIN ubs USING (q_id, doc_id) LEFT JOIN theta USING (q_id)
              |GROUP BY f.q_id ORDER BY f.q_id""".stripMargin)
    ),

    // ---- pseudo-relevance feedback expansion (Rocchio/RM3-lite) -------------
    // The second-pass trick of classical IR: assume the first-pass top
    // F=3 docs are relevant, mine their strongest terms, and re-rank with
    // the expanded query — recall the original terms alone can't reach.
    // Everything is deterministic integers on the BM25 micro grid:
    // expansion terms are the top E=3 by SUMMED partial score over the
    // feedback docs (score_t already IS tf-saturated idf — the RM3 weight
    // proxy), original terms are excluded, ties break on the term string;
    // the second pass scores candidates by Σ w·score_t with the original
    // terms at weight 2 and expansions at weight 1 (the Rocchio
    // anchor-the-query discipline, kept integral). Scale: one extra
    // per-query term-mining aggregate over F·|doc| postings rows and a
    // second broadcast-term scoring pass — the corpus-side shape is the
    // first pass's verbatim; nothing new shuffles. The serving form reads
    // both passes from the bucketed postings index unchanged.
    GQuery(
      "search_bm25_prf",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val dfF = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val stats = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tt"))
        val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val scored = Materialize(tf.join(dl, "doc_id")
          .join(broadcast(dfF), "term")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("term"), expr(scoreExpr("div")).as("score_t")))
        val q = broadcast(queryTerms(s))
        val w1 = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
        val fb = scored.join(q, "term")
          .groupBy("q_id", "doc_id").agg(sum(col("score_t")).as("score"))
          .withColumn("rk", row_number().over(w1)).filter(col("rk") <= 3)
          .select("q_id", "doc_id")
        // mine expansion terms from the feedback docs; exclude originals
        val wexp = Window.partitionBy("q_id").orderBy(col("wsum").desc, col("term"))
        val expansion = scored.join(broadcast(fb), "doc_id")
          .groupBy("q_id", "term").agg(sum(col("score_t")).as("wsum"))
          .join(q.select(col("q_id"), col("term"), lit(1).as("orig")),
            Seq("q_id", "term"), "left_anti")
          .withColumn("rk", row_number().over(wexp)).filter(col("rk") <= 3)
          .select("q_id", "term")
        val q2 = broadcast(
          queryTerms(s).select(col("q_id"), col("term"), lit(2L).as("w"))
            .unionByName(expansion.select(col("q_id"), col("term"), lit(1L).as("w"))))
        val w2 = Window.partitionBy("q_id").orderBy(col("score2").desc, col("doc_id"))
        scored.join(q2, "term")
          .groupBy("q_id", "doc_id").agg(sum(col("w") * col("score_t")).as("score2"))
          .withColumn("rank", row_number().over(w2).cast("long"))
          .filter(col("rank") <= TOP_K)
          .select("q_id", "rank", "doc_id", "score2")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |dlt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
              |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tt FROM documents),
              |tft AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
              |dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
              |${queryTermsSql},
              |scored AS (SELECT tft.doc_id, tft.term, CAST(${scoreExpr("//")} AS BIGINT) AS score_t
              |  FROM tft JOIN dft USING (term) JOIN dlt ON tft.doc_id = dlt.doc_id CROSS JOIN stats),
              |fb AS (SELECT q_id, doc_id FROM (
              |  SELECT q.q_id, s.doc_id,
              |    row_number() OVER (PARTITION BY q.q_id
              |      ORDER BY SUM(s.score_t) DESC, s.doc_id) AS rk
              |  FROM scored s JOIN q USING (term) GROUP BY q.q_id, s.doc_id) WHERE rk <= 3),
              |expn AS (SELECT q_id, term FROM (
              |  SELECT fb.q_id, s.term,
              |    row_number() OVER (PARTITION BY fb.q_id
              |      ORDER BY SUM(s.score_t) DESC, s.term) AS rk
              |  FROM scored s JOIN fb ON s.doc_id = fb.doc_id
              |  WHERE NOT EXISTS (SELECT 1 FROM q
              |    WHERE q.q_id = fb.q_id AND q.term = s.term)
              |  GROUP BY fb.q_id, s.term) WHERE rk <= 3),
              |q2 AS (SELECT q_id, term, CAST(2 AS BIGINT) AS w FROM q
              |  UNION ALL SELECT q_id, term, 1 FROM expn),
              |second AS (SELECT q2.q_id, s.doc_id,
              |    CAST(SUM(q2.w * s.score_t) AS BIGINT) AS score2
              |  FROM scored s JOIN q2 USING (term) GROUP BY q2.q_id, s.doc_id)
              |SELECT q_id, rank, doc_id, score2 FROM (
              |  SELECT q_id, doc_id, score2,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY score2 DESC, doc_id) AS BIGINT) AS rank
              |  FROM second) WHERE rank <= $TOP_K
              |ORDER BY q_id, rank""".stripMargin)
    ),

    // ---- MMR diversified rerank (Carbonell & Goldstein 1998) ----------------
    // The serving-side answer to near-duplicate result lists: greedily pick
    // K=5 of the BM25 top-10 maximizing λ·relevance − (1−λ)·max-similarity-
    // to-already-picked (λ=0.7), so the 2nd-5th picks trade raw score for
    // novelty. Everything is EXACT integers: relevance is the BM25 micro
    // score normalized per query to a 1e6 grid (floor-div by the rank-1
    // score), similarity is token-set Jaccard on the same grid, and the MMR
    // objective stays the raw long 70·rel − 30·maxsim — no float, no
    // engine-specific division-of-negatives semantics (Spark `div`
    // truncates toward zero, DuckDB `//` floors — avoided entirely by
    // never dividing the possibly-negative objective). The greedy
    // recurrence is inherently sequential IN K, so it unrolls as K−1
    // fixed plan stages (the ann_kmeans_iter discipline): each stage is a
    // bounded join over ≤ 10·n_queries candidate rows — data-parallel
    // across queries, which is the axis that grows at fleet scale; the
    // corpus is touched only by the ranking underneath and a token-set
    // fetch for the ≤ 10·n_queries candidate docs.
    GQuery(
      "search_mmr_rerank",
      (s, dir) => mmrRerank(s, dir).orderBy("q_id", "pick_order"),
      Some(s"""WITH ${bm25Sql()},
              |$mmrSqlBlock
              |SELECT q_id, pick_order, doc_id, mmr FROM sel$MMR_K
              |ORDER BY q_id, pick_order""".stripMargin)
    )
  )

  // ---- MMR rerank internals ------------------------------------------------

  /** Greedy MMR over the BM25 top-[[TOP_K]] candidates per query — see the
    * `search_mmr_rerank` registry notes. Emits (q_id, doc_id, pick_order,
    * mmr) with mmr = 70·rel_e6 − 30·maxsim_e6 at selection time.
    */
  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val cands = Materialize(bm25Inline(s, dir).filter(col("rank") <= TOP_K)
      .select("q_id", "doc_id", "score"))
    val relm = cands.groupBy("q_id").agg(max(col("score")).as("mx"))
    val cr = Materialize(cands.join(broadcast(relm), "q_id")
      .select(col("q_id"), col("doc_id"),
        expr("score * 1000000 div mx").as("rel")))
    // token sets for the ≤ TOP_K·n_queries DISTINCT candidate docs only —
    // the single place the corpus text is touched after ranking
    val ctok = Materialize(Tables.documents(s, dir)
      .join(cands.select("doc_id").distinct(), "doc_id")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w")))
    val cnd = ctok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cinter = ctok.as("x")
      .join(ctok.as("y"), col("x.w") === col("y.w") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    val csim = cinter
      .join(cnd.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(cnd.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), expr("i * 1000000 div (na + nb - i)").as("sim"))
    val sims = cr.as("ca")
      .join(cr.as("cb"),
        col("ca.q_id") === col("cb.q_id") && col("ca.doc_id") =!= col("cb.doc_id"))
      .select(col("ca.q_id").as("q_id"), col("ca.doc_id").as("a"), col("cb.doc_id").as("b"))
      .join(csim, Seq("a", "b"), "left")
      .select(col("q_id"), col("a"), col("b"), coalesce(col("sim"), lit(0L)).as("sim"))
    // [r14] The greedy itself runs PER QUERY inside one cogroup — not as
    // K dataflow rounds. MMR's selection state is inherently bounded: the
    // ranking stage already cut each query to ≤ TOP_K candidates, so a
    // query's whole problem (≤ TOP_K rels + ≤ TOP_K² sims) is a few
    // hundred integers — group-local compute, embarrassingly parallel
    // across queries, ONE q_id shuffle. The previous K-round dataflow loop
    // paid a durable checkpoint + count per round (the measured ~6-8 s
    // floor at sf0.1, r12: its own fix for the 84 s plan-explosion) for a
    // sequential decision over ~50 rows; rounds-as-jobs was the wrong
    // altitude for per-group-sequential, cross-group-parallel work. All
    // arithmetic stays on the exact integer micro grid (Long multiply/
    // subtract — the same values the oracle's round CTEs compute), ties
    // break on doc_id, so the result is row-identical to the unrolled SQL.
    import s.implicits._
    val crDs = cr.select(col("q_id"), col("doc_id"), col("rel"))
      .as[(Long, Long, Long)]
    val simDs = sims.select(col("q_id"), col("a"), col("b"), col("sim"))
      .as[(Long, Long, Long, Long)]
    val relW = MMR_REL_W
    val divW = MMR_DIV_W
    val mmrK = MMR_K
    crDs.groupByKey(_._1).cogroup(simDs.groupByKey(_._1)) { (q, cit, sit) =>
      val rels = cit.map(t => (t._2, t._3)).toArray.sortBy(_._1)
      val simOf = sit.map(t => ((t._2, t._3), t._4)).toMap
      val relOf = rels.toMap
      val remaining = scala.collection.mutable.TreeSet(rels.map(_._1): _*)
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var r = 1
      while (r <= mmrK && remaining.nonEmpty) {
        var bestDoc = -1L
        var bestMmr = Long.MinValue
        remaining.foreach { d => // ascending doc_id ⇒ strict > keeps the tie's lowest id
          val maxsim =
            if (selected.isEmpty) 0L
            else selected.map(sm => simOf.getOrElse((d, sm), 0L)).max
          val m = relW * relOf(d) - divW * maxsim
          if (m > bestMmr) { bestMmr = m; bestDoc = d }
        }
        remaining.remove(bestDoc)
        selected += bestDoc
        out += ((q, r.toLong, bestDoc, bestMmr))
        r += 1
      }
      out.iterator
    }.toDF("q_id", "pick_order", "doc_id", "mmr")
  }

  /** Oracle CTE chain for MMR (assumes [[bm25Sql]]'s CTEs precede it);
    * round CTEs are generated from the same constants as the Spark build,
    * ending in `sel{MMR_K}` (q_id, doc_id, pick_order, mmr).
    */
  private def mmrSqlBlock: String = {
    val base =
      s"""cands AS (SELECT q_id, doc_id, score FROM ranked WHERE rank <= $TOP_K),
         |relm AS (SELECT q_id, MAX(score) AS mx FROM cands GROUP BY q_id),
         |cr AS (SELECT c.q_id, c.doc_id, CAST(c.score * 1000000 // mx AS BIGINT) AS rel
         |  FROM cands c JOIN relm USING (q_id)),
         |cd AS (SELECT DISTINCT doc_id FROM cands),
         |ctok AS (SELECT d.doc_id, unnest(list_distinct(string_split(d.text, ' '))) AS w
         |  FROM documents d JOIN cd USING (doc_id)),
         |cnd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ctok GROUP BY doc_id),
         |cinter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS i
         |  FROM ctok x JOIN ctok y ON x.w = y.w AND x.doc_id <> y.doc_id GROUP BY 1, 2),
         |csim AS (SELECT a, b, CAST(i * 1000000 // (na.n + nb.n - i) AS BIGINT) AS sim
         |  FROM cinter JOIN cnd na ON a = na.doc_id JOIN cnd nb ON b = nb.doc_id),
         |mmrsims AS (SELECT ca.q_id, ca.doc_id AS a, cb.doc_id AS b, COALESCE(sim, 0) AS sim
         |  FROM cr ca JOIN cr cb ON ca.q_id = cb.q_id AND ca.doc_id <> cb.doc_id
         |  LEFT JOIN csim ON csim.a = ca.doc_id AND csim.b = cb.doc_id),
         |sel1 AS (SELECT q_id, doc_id, CAST(1 AS BIGINT) AS pick_order,
         |    $MMR_REL_W * rel AS mmr
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, doc_id) AS rn FROM cr)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (2 to MMR_K).map { r =>
      s"""rem$r AS (SELECT * FROM cr WHERE NOT EXISTS (
         |  SELECT 1 FROM sel${r - 1} s WHERE s.q_id = cr.q_id AND s.doc_id = cr.doc_id)),
         |ms$r AS (SELECT si.q_id, si.a AS doc_id, MAX(si.sim) AS maxsim
         |  FROM mmrsims si JOIN sel${r - 1} s ON si.q_id = s.q_id AND si.b = s.doc_id
         |  GROUP BY 1, 2),
         |pick$r AS (SELECT q_id, doc_id, CAST($r AS BIGINT) AS pick_order, mmr FROM (
         |  SELECT r.q_id, r.doc_id,
         |    $MMR_REL_W * r.rel - $MMR_DIV_W * COALESCE(m.maxsim, 0) AS mmr,
         |    row_number() OVER (PARTITION BY r.q_id ORDER BY
         |      $MMR_REL_W * r.rel - $MMR_DIV_W * COALESCE(m.maxsim, 0) DESC, r.doc_id) AS rn
         |  FROM rem$r r LEFT JOIN ms$r m ON r.q_id = m.q_id AND r.doc_id = m.doc_id)
         |  WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** Inline hybrid list: fuse the lexical and vector top-10s (the
    * registered query and the eval audit share it).
    */
  private def hybridInline(s: SparkSession, dir: String): DataFrame = {
    val bm = bm25Inline(s, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("rank_t"))
    val e = VectorOps.normalized(s, dir)
    val q = broadcast(
      e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val vw = Window.partitionBy("q_id").orderBy(col("cos").desc, col("doc_id"))
    val vr = e.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        VectorOps.cosCol("qv", "v", "qn", "nrm").as("cos"))
      .withColumn("rank_v", row_number().over(vw).cast("long"))
      .filter(col("rank_v") <= TOP_K)
      .select("q_id", "doc_id", "rank_v")
    rrfFuse(bm, vr)
  }

  /** Oracle CTE chain for the hybrid list (assumes [[bm25Sql]]'s CTEs
    * precede it); ends in `franked` (q_id, doc_id, rrf_micro, rank).
    */
  private def hybridSqlBlock: String =
    s"""bm AS (SELECT q_id, doc_id, rank AS rank_t FROM ranked WHERE rank <= $TOP_K),
       |${VectorOps.normalizedSql},
       |qv AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |vs AS (SELECT qv.q_id, e.vec_id AS doc_id,
       |    ${VectorOps.cosSql("qv.qv", "e.v", "qv.qn", "e.nrm")} AS cos
       |  FROM e JOIN qv ON e.vec_id <> qv.q_id),
       |vr0 AS (SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_v
       |  FROM vs),
       |vr AS (SELECT q_id, doc_id, rank_v FROM vr0 WHERE rank_v <= $TOP_K),
       |fused AS (SELECT COALESCE(bm.q_id, vr.q_id) AS q_id,
       |    COALESCE(bm.doc_id, vr.doc_id) AS doc_id,
       |    COALESCE(1000000 // ($RRF_K + rank_t), 0) +
       |    COALESCE(1000000 // ($RRF_K + rank_v), 0) AS rrf_micro
       |  FROM bm FULL JOIN vr ON bm.q_id = vr.q_id AND bm.doc_id = vr.doc_id),
       |franked AS (SELECT q_id, doc_id, rrf_micro,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)""".stripMargin
}
