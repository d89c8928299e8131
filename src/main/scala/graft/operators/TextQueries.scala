package graft.operators

import graft.{GQuery, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators over `documents` (builder mandate: language-ID,
  * quality scoring, token counting, document fingerprinting).
  *
  * All are narrow per-row projections + one final sort — map-only at scale
  * (no shuffle except the output sort, which a real pipeline wouldn't carry).
  * Built-in higher-order functions (`transform`/`filter`/`aggregate`) keep
  * everything in codegen; no UDFs.
  */
object TextQueries {

  /** Whitespace tokens, shared by every text op. Spark `split` and DuckDB
    * `string_split` agree on single-space splitting (empties preserved).
    */
  private val toksCol = "split(text, ' ')"
  private val toksSql = "string_split(text, ' ')"

  /** Tiny per-language marker-word lists for the n-gram/stopword heuristic
    * language ID. Deterministic scoring with a fixed tie order — correctness
    * here means "matches the documented algorithm" (the oracle runs the same
    * scoring), not linguistic accuracy.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est"))

  private def markerArr(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** Priority-sampling geometry (pipeline_sample_priority*). u ∈ [1, 2^20]
    * from md5 (the only cross-engine hash, Exact.md5Int's derivation with a
    * dedicated "pri:" domain so no other md5 use correlates); priorities on
    * the 2^40 integer grid so floor(w·2^40/u) never collides with the float
    * w/u it stands for (max w·2^40 ≈ 5·10^14 ≪ 2^63 — no overflow at any
    * plausible token count).
    */
  private val PRI_K = 100
  private val PRI_SCALE = 1099511627776L // 2^40
  // weight↔priority unit bridge: u_real = u/2^20, so priority_scaled =
  // w·2^40/u = (w / u_real)·2^20 — a priority is a WEIGHT times 2^20.
  // The HT comparison max(w_i, τ) must therefore lift w_i by 2^20 (not
  // 2^40): using the full 2^40 grid there would compare w against τ/2^20
  // of its true magnitude and collapse the estimator to Σ w_i.
  private val PRI_W_SCALE = 1048576L // 2^20 = the u modulus

  /** Bloom decontamination geometry: m = 2^16 bits, k = 2 hashes. At the
    * test corpus's ~50k bench grams the fill is ~1 − e^(−2·50k/65536) —
    * deliberately DENSE so the measured false-positive rows exercise the
    * audit path; a deployment sizes m ≈ 1.44·k·n_grams·(bits per gram
    * target) and the query shape is unchanged.
    */
  private val BLOOM_BITS = 65536L
  private val priUExpr =
    "CAST(conv(substr(md5(concat('pri:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1048576 + 1"
  private val priUSql =
    "CAST(concat('0x', substr(md5(concat('pri:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1048576 + 1"
  private def priDuckCte =
    s"""base AS (SELECT doc_id, lang,
       |  CAST(len($toksSql) AS BIGINT) AS n_tokens, $priUSql AS u FROM documents),
       |pri AS (SELECT doc_id, lang, n_tokens,
       |  n_tokens * $PRI_SCALE // u AS priority FROM base)""".stripMargin

  /** Map-only priority projection over any frame carrying (doc_id, text):
    * appends n_tokens and the integer priority. Shared by the registered
    * samplers and the streaming twin ([[graft.streaming.DocumentsStream
    * .runPrioritySample]]) so both rank the SAME priorities — the
    * mergeability pin depends on it.
    */
  private[graft] def priorityOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("n_tokens", expr(s"CAST(size($toksCol) AS BIGINT)"))
      .withColumn("priority", expr(s"n_tokens * $PRI_SCALE div ($priUExpr)"))

  private[graft] val PRI_TOP_K: Int = PRI_K

  /** Count-min sketch geometry + derivation, shared by the registered query
    * and the streaming ingest ([[graft.streaming.DocumentsStream]]). A
    * cell's counter = Σ tf of the tokens hashing into it, so the sketch
    * folds from the per-batch (token, tf) aggregate — and because cells are
    * SUMS, per-batch sketches merge by cell-wise addition into exactly the
    * full-corpus sketch (the mergeability a 100 TB shard/stream plan needs).
    */
  private[graft] val cmsRowIds = array((0 until 4).map(lit): _*)
  private[graft] val cmsBucketExpr =
    "CAST(conv(substr(md5(concat(CAST(i AS STRING), ':', token)), 1, 8), 16, 10) AS BIGINT) % 64"

  /** Sketch (i, bucket, cnt) of a frame carrying a `text` column. */
  private[graft] def cmsSketchOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(expr(toksCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .select(col("token"), col("tf"), explode(cmsRowIds).as("i"))
      .select(col("i"), expr(cmsBucketExpr).as("bucket"), col("tf"))
      .groupBy("i", "bucket").agg(sum(col("tf")).as("cnt"))

  // ---- BPE tokenizer training (the real merge loop) -------------------------
  // Byte-pair-encoding training as every LLM pipeline runs it: a word-
  // frequency census, then BPE_ROUNDS iterations of (pair census over the
  // DISTINCT words weighted by freq → most-frequent adjacent symbol pair →
  // left-to-right greedy merge rewrite). The classic distinct-word trick is
  // the scale story: each round's census shuffles the VOCABULARY (millions
  // of rows at 100 TB), never the corpus — the corpus is read exactly once
  // for the initial word census. The winning pair per round is a 1-row
  // collect (bounded control-plane, the broadcast-equivalent pattern), and
  // each rewritten vocabulary materializes via [[Materialize]] so round
  // k+1's census reads a cached table instead of recomputing k rounds of
  // lineage.
  //
  // Merge semantics are the canonical left-to-right greedy pass, expressed
  // as the SAME fold on both engines (Spark `aggregate`, DuckDB
  // `list_reduce` — see [[bpeOracleChain]]): scan the symbol list keeping
  // an output accumulator; when the accumulator's last symbol is `lhs` and
  // the next input is `rhs`, replace the last with `merged` — overlapping
  // occurrences (lhs == rhs runs) resolve left-first exactly as the
  // reference BPE implementations do, because a just-merged symbol can
  // never equal `lhs` again in the same position. Ties in the pair census
  // break deterministically by (n DESC, lhs, rhs) on both engines.

  private[graft] val BPE_ROUNDS = 10

  /** Unigram counts (token, tf) + the 1-row total over a docs frame — the
    * text_surprisal training pass, shared with the persisted/streaming
    * serving path ([[graft.streaming.DocumentsStream.runSurprisalMonitor]]).
    */
  private[graft] def unigramCounts(
      docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val counts = docs.select(explode(expr(toksCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    (counts, counts.agg(sum(col("tf")).as("total")))
  }

  /** Score a docs frame against TRAINED unigram counts: per-row (doc)
    * independent once counts are fixed, so streaming micro-batches score
    * identically to one shot (pinned in StreamingSpec). Unseen tokens take
    * tf = 1 — max surprisal, the unigram byte-fallback; on the training
    * corpus itself the fallback never fires and this equals the inner-join
    * form exactly.
    */
  private[graft] def surprisalOf(
      docs: org.apache.spark.sql.DataFrame,
      counts: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(expr(toksCol)).as("token"))
      .join(counts, Seq("token"), "left")
      .crossJoin(broadcast(total)) // 1-row bound
      .select(col("doc_id"), coalesce(col("tf"), lit(1L)).as("tf"), col("total"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("CAST(length(bin(total)) - length(bin(tf)) AS BIGINT)"))
          .as("surprisal_bits"))
      .withColumn("milli_bits_per_token",
        expr("surprisal_bits * 1000 div n_tokens"))

  /** Surprisal cut for pipeline_curate_lm, in milli-bits/token: calibrated
    * on the synthetic corpus where 95% of docs score exactly 5000 (uniform
    * token-frequency band) and the rare-token tail spans 5053..5416 — the
    * cut keeps the body and drops the 25-doc high-surprisal tail. A real
    * corpus recalibrates to its own band (Gopher drops both tails).
    */
  private val SURPRISAL_MAX_MILLI = 5050L

  // ---- integer naive Bayes: the supervised quality/label classifier -------
  // The fastText-style classifier every curation stack runs beside the
  // surprisal filter, as exact-integer multinomial naive Bayes on the
  // bit_length ⌈log2⌉ grid (zero libm drift cross-engine): for doc d and
  // label l,
  //   bits(d,l) = n_tokens(d)·bitlen(total_l + V)          [denominator]
  //             − Σ_t bitlen(tf_{t,l} + 1)                 [Laplace +1]
  //             + bitlen(n_docs) − bitlen(n_docs_l)        [prior]
  // and the prediction is argmin bits (tie → label asc). Unseen tokens fall
  // back to tf=0 → 1 bit-for-smoothing, the same byte-fallback shape as
  // text_surprisal.
  //
  // Scale (100 TB): the corpus explodes ONCE; the per-label census pivots
  // into one map<label,tf> row per DISTINCT token (vocabulary-sized, like
  // every census here — broadcast when it fits, one token-key shuffle
  // otherwise); the per-doc aggregate carries the label axis in COLUMNS
  // (one sum per label, map-side combined) so the corpus never blows up by
  // n_labels; only the ~n_labels-row stats table is collected
  // (bounded control-plane, the k-means/BPE discipline). Honest
  // measurement: on THIS synthetic corpus token frequencies are uniform
  // across langs, so the classifier collapses to the prior (predicts 'en')
  // — exactly what NB should learn here; TextNbSpec proves it learns real
  // per-label distributions on a corpus that has them.

  private def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong

  /** Naive-Bayes scores for every (doc, label): one explode, one join of the
    * token stream against the pivoted census, one per-doc aggregate with a
    * Σ bitlen(tf_l+1) column per label, stacked to (doc_id, label, bits)
    * rows map-side at the end. Denominator/prior terms are driver-side
    * literals from the collected label stats.
    *
    * [r22 opt, guide §1.2/§2.4] the (label, token) census is Materialized
    * once and every stat rides ONE control-plane collect (per-label rows ×
    * broadcast global vocab/doc counts) — the old nbStats ran three
    * separate actions and derived the census twice, then tokMap derived it
    * a third time; values are identical (same aggregates, same census).
    */
  private[graft] def nbScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang").as("label"),
      explode(expr(toksCol)).as("token"))
    val counts = graft.operators.Materialize(
      toks.select("label", "token").groupBy("label", "token")
        .agg(count(lit(1)).as("tf")))
    val statsRows = counts.groupBy("label").agg(sum("tf").as("total_tf"))
      .join(docs.groupBy(col("lang").as("label"))
        .agg(count(lit(1)).as("n_docs_label")), Seq("label"))
      .crossJoin(broadcast(counts.agg(countDistinct("token").as("vocab_n"))))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .orderBy("label").collect()
    val perLabel = statsRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val vocabN = statsRows.head.getLong(3)
    val nDocs = statsRows.head.getLong(4)
    val tokMap = counts
      .groupBy("token")
      .agg(map_from_entries(collect_list(struct(col("label"), col("tf"))))
        .as("tfs"))
    val sumsPerLabel = perLabel.map { case (l, _, _) =>
      sum(expr(s"CAST(length(bin(coalesce(element_at(tfs, '$l'), 0L) + 1)) AS BIGINT)"))
        .as(s"s_$l")
    }
    val perDoc = docs.select(col("doc_id"), explode(expr(toksCol)).as("token"))
      .join(tokMap, Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sumsPerLabel: _*)
    val bitsCols = perLabel.map { case (l, totalTf, nDocsL) =>
      val denomBits = bitlen(totalTf + vocabN)
      val priorBits = bitlen(nDocs) - bitlen(nDocsL)
      s"'$l', CAST(n_tokens * ${denomBits}L - s_$l + ${priorBits}L AS BIGINT)"
    }
    perDoc.select(col("doc_id"),
      expr(s"stack(${perLabel.size}, ${bitsCols.mkString(", ")})")
        .as(Seq("label", "bits")))
  }

  /** Argmin-bits prediction per doc, with the runner-up margin and the
    * metadata-label agreement flag.
    */
  private[graft] def nbClassify(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("bits"), col("label"))
    nbScores(docs)
      .withColumn("rn", row_number().over(w))
      .withColumn("second", lead(col("bits"), 1).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred_label"),
        col("bits").as("pred_bits"),
        (col("second") - col("bits")).as("margin_bits"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("correct", col("pred_label") === col("lang"))
      .select("doc_id", "pred_label", "pred_bits", "margin_bits", "lang", "correct")
  }

  /** Dual-engine CTE prelude for the NB oracles, through `scored`
    * (doc_id, label, bits) — the oracle computes the same bits the
    * straightforward way (cross join the token stream with the label list)
    * so a driver-side literal drifting from the census would hash-mismatch.
    */
  private val nbSqlPrelude: String =
    s"""nbtoks AS (SELECT doc_id, lang, unnest($toksSql) AS token FROM documents),
       |nbcounts AS (SELECT lang AS label, token, $countStarSql AS tf
       |  FROM nbtoks GROUP BY 1, 2),
       |nblstats AS (SELECT label, CAST(SUM(tf) AS BIGINT) AS total_tf
       |  FROM nbcounts GROUP BY 1),
       |nbldocs AS (SELECT lang AS label, $countStarSql AS n_docs_label
       |  FROM documents GROUP BY 1),
       |nbglob AS (SELECT (SELECT $countStarSql FROM documents) AS n_docs,
       |  (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) FROM nbcounts) AS vocab_n),
       |nbpdl AS (SELECT t.doc_id, l.label, $countStarSql AS n_tokens,
       |    CAST(SUM(length(bin(COALESCE(c.tf, 0) + 1))) AS BIGINT) AS sum_tf_bits
       |  FROM (SELECT doc_id, token FROM nbtoks) t
       |  CROSS JOIN (SELECT label FROM nblstats) l
       |  LEFT JOIN nbcounts c ON c.label = l.label AND c.token = t.token
       |  GROUP BY 1, 2),
       |scored AS (SELECT doc_id, label,
       |    CAST(n_tokens * length(bin(total_tf + vocab_n)) - sum_tf_bits
       |      + length(bin(n_docs)) - length(bin(n_docs_label)) AS BIGINT) AS bits
       |  FROM nbpdl JOIN nblstats USING (label) JOIN nbldocs USING (label)
       |  CROSS JOIN nbglob)""".stripMargin

  private val nbRankedSql: String =
    """ranked AS (SELECT *,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY bits, label) AS rn,
      |    lead(bits) OVER (PARTITION BY doc_id ORDER BY bits, label) AS second
      |  FROM scored)""".stripMargin

  /** Distinct pure-letter words with frequencies and initial char symbols.
    * `^[a-z]+$` keeps the alphabet to 26 chars (regex agrees cross-engine);
    * chars come from an index transform, not split-on-empty, whose
    * trailing-empty behavior differs between engines.
    */
  private def bpeWords0(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(explode(expr(toksCol)).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))

  /** The greedy-merge rewrite of a `syms` column for one trained pair.
    * `lhs`/`rhs`/`merged` are guaranteed `[a-z]+` (census input is), so
    * literal splicing is safe.
    */
  private def bpeRewriteExpr(lhs: String, rhs: String, merged: String): String = {
    require((lhs + rhs + merged).forall(c => c >= 'a' && c <= 'z'), "non-letter symbol")
    "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
      s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$lhs' AND x = '$rhs' " +
      s"THEN concat(slice(acc, 1, size(acc) - 1), array('$merged')) " +
      "ELSE concat(acc, array(x)) END)"
  }

  /** Trained merge tables by (corpus dir, rounds). Training is deterministic
    * over an immutable corpus, so the K-row result is a pure function of the
    * key; the memo lets the trio of registered BPE queries (merges / encode /
    * vocab) and [[writeBpeModel]] share ONE training run per session instead
    * of re-paying K census actions each — the same train-once/apply-many
    * asymmetry the persisted model gives across sessions. Values are ≤ K
    * tuples; no Spark state (frames, cached blocks) is ever memoized.
    */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Long, String, String, String, Long)]]()

  /** Run the merge loop; returns (merge table rows, final vocabulary frame).
    * The merge table row k is (k, lhs, rhs, merged, pair_n) — a tokenizer's
    * merges.txt with the census count attached. On a memo hit the vocabulary
    * is rebuilt by composing the K fixed rewrites into one codegen'd map
    * stage over the word census (no censuses, no materialization) — pinned
    * equal to the loop's final state in PartitionBucketSpec.
    */
  private[graft] def bpeTrain(
      s: org.apache.spark.sql.SparkSession, dir: String, rounds: Int)
      : (Seq[(Long, String, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val cached = bpeMemo.get((dir, rounds))
    if (cached != null) {
      var words = bpeWords0(s, dir)
      for ((_, a, b, m, _) <- cached)
        words = words.withColumn("syms", expr(bpeRewriteExpr(a, b, m)))
      return (cached, words)
    }
    var words = Materialize(bpeWords0(s, dir))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val top = words
        .select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(s, i) -> struct(s AS a, element_at(syms, i + 2) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((k.toLong, a, b, a + b, n))
        words = Materialize(words.withColumn("syms", expr(bpeRewriteExpr(a, b, a + b))))
        k += 1
      }
    }
    val trained = merges.result()
    bpeMemo.put((dir, rounds), trained)
    (trained, words)
  }

  /** Persist the trained merge table — a tokenizer's merges.txt as a tiny
    * parquet artifact (train once, apply many).
    */
  def writeBpeModel(s: org.apache.spark.sql.SparkSession, dir: String,
                    path: String): Unit = {
    val (merges, _) = bpeTrain(s, dir, BPE_ROUNDS)
    s.createDataFrame(merges)
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Encode the corpus from a PERSISTED model — the serving asymmetry that
    * makes BPE deployable: training needs K census actions, but applying a
    * FIXED merge list needs none, so the K rewrites compose into ONE
    * codegen'd map stage over the distinct-word census (no per-round
    * materialization, no census, no extra job). The merge list itself is a
    * K-row bounded collect. Equals the registered text_bpe_encode exactly
    * (pinned in PartitionBucketSpec).
    */
  def encodeFromBpeModel(s: org.apache.spark.sql.SparkSession, dir: String,
                         modelPath: String): org.apache.spark.sql.DataFrame = {
    val merges = s.read.parquet(modelPath).orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    var words = bpeWords0(s, dir)
    for ((a, b, m) <- merges)
      words = words.withColumn("syms", expr(bpeRewriteExpr(a, b, m)))
    encodedDocReport(s, dir,
      words.select(col("w"), size(col("syms")).cast("long").as("n_sub")))
  }

  /** Per-doc word/subword/char report for an encoded distinct-word table —
    * shared by the registered apply query and the from-model serving path.
    */
  private[graft] def encodedDocReport(
      s: org.apache.spark.sql.SparkSession, dir: String,
      enc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toksCol)).as("w"))
      .join(enc, Seq("w"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sub"), length(col("w")).cast("long")).as("n_sub"),
        length(col("w")).cast("long").as("n_chars"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("milli_chars_per_subword",
        expr("CASE WHEN n_subwords = 0 THEN 0 ELSE n_chars * 1000 div n_subwords END"))
      .orderBy("doc_id")

  /** The K-round training chain as DuckDB CTEs (words0, census_k, top_k,
    * words_k) — the oracle runs the IDENTICAL census order and list_reduce
    * fold, unrolled because recursive CTEs cannot re-aggregate per round.
    */
  private def bpeOracleChain(rounds: Int): String = {
    val w0 =
      s"""toks AS (SELECT unnest($toksSql) AS w FROM documents),
         |words0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         |  list_transform(generate_series(1, length(w)), i -> w[i:i]) AS syms
         |  FROM toks WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w)""".stripMargin
    val chain = (1 to rounds).map { k =>
      s"""census$k AS (SELECT t.pr.a AS a, t.pr.b AS b, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM words${k - 1} w, unnest([{'a': x[1], 'b': x[2]}
         |    for x in list_zip(w.syms[:-2], w.syms[2:])]) AS t(pr)
         |  GROUP BY 1, 2),
         |top$k AS (SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
         |    a || b AS merged, n AS pair_n
         |  FROM census$k ORDER BY n DESC, a, b LIMIT 1),
         |words$k AS (SELECT w.w, w.freq, list_reduce(
         |    list_prepend([]::VARCHAR[], [[s] for s in w.syms]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.lhs AND x[1] = t.rhs
         |                THEN list_append(acc[:-2], t.merged)
         |                ELSE list_append(acc, x[1]) END) AS syms
         |  FROM words${k - 1} w CROSS JOIN top$k t)""".stripMargin
    }
    (w0 +: chain).mkString(",\n")
  }

  // ---- WordPiece-objective trainer ----------------------------------------
  // The OTHER major tokenizer family, on the same skeleton as bpeTrain: BPE
  // merges the most FREQUENT adjacent pair; WordPiece merges the pair that
  // most increases corpus likelihood under a unigram model — argmax
  // pair_n / (lhs_n · rhs_n), the mutual-information objective. Scored in
  // exact integers on a fixed nano grid:
  //   score_nano = pair_n · 10^9 div (lhs_n · rhs_n)
  // (quantized-likelihood argmax; distinct ratios that collide on the grid
  // break deterministically by (score DESC, lhs, rhs) on both engines, so
  // the trained table is a pure function of the corpus). Long headroom:
  // pair_n·10^9 and lhs_n·rhs_n stay inside int64 for per-symbol census
  // counts up to ~2·10^9 (TextNbSpec guards the long chain against BigInt
  // across that range); DuckDB errors loudly on overflow rather than
  // wrapping, and a bigger corpus needs a wider grid (DECIMAL(38,0)). The
  // per-round plan adds ONE unigram census (symbol, Σfreq) beside BPE's
  // pair census — still vocabulary-sized, the corpus is never re-read. The
  // ## continuation markers of deployed WordPiece are surface syntax, not
  // objective, and are omitted.
  private val WP_SCALE = 1000000000L

  private val wpMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Long, String, String, String, Long, Long)]]()

  /** Run the WordPiece merge loop; returns (merge rows, final vocabulary
    * frame). Merge row k is (k, lhs, rhs, merged, pair_n, score_nano).
    * Memoized like bpeTrain: on a hit the vocabulary is rebuilt by composing
    * the fixed rewrites into one codegen'd map stage.
    */
  private[graft] def wpTrain(
      s: org.apache.spark.sql.SparkSession, dir: String, rounds: Int)
      : (Seq[(Long, String, String, String, Long, Long)], org.apache.spark.sql.DataFrame) = {
    val cached = wpMemo.get((dir, rounds))
    if (cached != null) {
      var words = bpeWords0(s, dir)
      for ((_, a, b, m, _, _) <- cached)
        words = words.withColumn("syms", expr(bpeRewriteExpr(a, b, m)))
      return (cached, words)
    }
    var words = Materialize(bpeWords0(s, dir))
    val merges = Seq.newBuilder[(Long, String, String, String, Long, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val uni = words.select(explode(col("syms")).as("sym"), col("freq"))
        .groupBy("sym").agg(sum(col("freq")).as("u"))
      val pairs = words
        .select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(s, i) -> struct(s AS a, element_at(syms, i + 2) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
      val top = pairs
        .join(uni.select(col("sym").as("a"), col("u").as("ua")), Seq("a"))
        .join(uni.select(col("sym").as("b"), col("u").as("ub")), Seq("b"))
        .withColumn("score_nano",
          expr(s"n * ${WP_SCALE}L div (ua * ub)"))
        .orderBy(col("score_nano").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (a, b) = (r.getString(1), r.getString(0))
        merges += ((k.toLong, a, b, a + b, r.getLong(2), r.getLong(5)))
        words = Materialize(words.withColumn("syms", expr(bpeRewriteExpr(a, b, a + b))))
        k += 1
      }
    }
    val trained = merges.result()
    wpMemo.put((dir, rounds), trained)
    (trained, words)
  }

  /** The WordPiece training chain as DuckDB CTEs: bpeOracleChain's shape
    * plus one unigram census per round, argmax by the identical quantized
    * likelihood.
    */
  private def wpOracleChain(rounds: Int): String = {
    // words$k is referenced THREE times per round (uni, census, next words):
    // without MATERIALIZED, DuckDB inlines every reference and the chain
    // re-scans the parquet 3^rounds times (observed: "Too many open files"
    // at 10 rounds). Materializing each round keeps the oracle linear, which
    // is also what the Spark side does (Materialize per round).
    val w0 =
      s"""toks AS (SELECT unnest($toksSql) AS w FROM documents),
         |words0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         |  list_transform(generate_series(1, length(w)), i -> w[i:i]) AS syms
         |  FROM toks WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w)""".stripMargin
    val chain = (1 to rounds).map { k =>
      s"""uni$k AS (SELECT sym, CAST(SUM(freq) AS BIGINT) AS u
         |  FROM (SELECT unnest(syms) AS sym, freq FROM words${k - 1}) GROUP BY 1),
         |census$k AS (SELECT t.pr.a AS a, t.pr.b AS b, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM words${k - 1} w, unnest([{'a': x[1], 'b': x[2]}
         |    for x in list_zip(w.syms[:-2], w.syms[2:])]) AS t(pr)
         |  GROUP BY 1, 2),
         |top$k AS (SELECT CAST($k AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
         |    a || b AS merged, n AS pair_n,
         |    n * $WP_SCALE // (ua.u * ub.u) AS score_nano
         |  FROM census$k c JOIN uni$k ua ON ua.sym = c.a JOIN uni$k ub ON ub.sym = c.b
         |  ORDER BY score_nano DESC, a, b LIMIT 1),
         |words$k AS MATERIALIZED (SELECT w.w, w.freq, list_reduce(
         |    list_prepend([]::VARCHAR[], [[s] for s in w.syms]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.lhs AND x[1] = t.rhs
         |                THEN list_append(acc[:-2], t.merged)
         |                ELSE list_append(acc, x[1]) END) AS syms
         |  FROM words${k - 1} w CROSS JOIN top$k t)""".stripMargin
    }
    (w0 +: chain).mkString(",\n")
  }

  // ---- hashed-feature batch perceptron: the linear-model trainer ----------
  // The third supervised family beside naive Bayes and the unigram LM: a
  // multiclass batch perceptron over hashing-trick token features
  // (Weinberger et al. 2009's feature hashing — the Vowpal-Wabbit serving
  // shape) in EXACT integer arithmetic: tf counts are integers, weights
  // start at 0 and move by ±tf, so scores, updates, and margins are all
  // BIGINTs and no learning-rate float can drift cross-engine. Batch (not
  // online) variant: each round scores the WHOLE corpus under the frozen
  // weights, then applies the summed update over every misclassified doc
  //   w(true(d), ·) += x_d     w(pred(d), ·) −= x_d
  // — per-doc sequential updates don't parallelize; the summed batch step
  // is one census-level aggregate (the distributed perceptron of
  // McDonald/Hall/Mann 2010, with the iterate-average replaced by the
  // plain batch sum so the loop stays integer-exact).
  //
  // Scale (100 TB): the feature census (doc_id, bucket, tf) is built ONCE
  // (one explode + partial-agg shuffle; ≤ D+1 = 65 rows per doc) and
  // reused every round. Per round the corpus-side work is one BROADCAST
  // join against the 65-row bucket→weight-vector table (label axis inside
  // an ARRAY column — no ×n_labels row blowup, the NB column discipline),
  // one per-doc argmax, and one census-level update aggregate. Weight
  // state is n_labels × (D+1) longs — control-plane at any corpus size —
  // and is collected between rounds so K iterations keep a flat lineage
  // (the kmeansTrain discipline). The mistake set (three thin columns,
  // shrinking to empty on separable data) is materialized per round
  // because two consumers read it: the stop-rule count and the update
  // census.
  //
  // Honest-measurement note (the nbScores precedent): the driver corpus
  // is label-structureless, so the curve records thrash, not descent —
  // mistakes hover near the prior error and the loop runs its budget out.
  // LinearTrainSpec pins the same code CONVERGING (mistakes → 0, early
  // stop) on a linearly separable corpus — the regime where the model
  // pays.
  private val LINEAR_D = 64
  private val LINEAR_ITERS = 4

  /** (doc_id, j, tf): md5-bucketed token counts plus a per-doc bias row at
    * j = −1 — the hashing-trick design matrix, exact integers throughout.
    */
  private def linearFeats(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(expr(toksCol)).as("token"))
      .select(col("doc_id"), (md5Int(col("token")) % LINEAR_D).as("j"))
      .groupBy("doc_id", "j").agg(count(lit(1)).as("tf"))
      .union(docs.select(col("doc_id"), lit(-1L).as("j"), lit(1L).as("tf")))

  /** Score + argmax under frozen weights: one broadcast join (weights keyed
    * by bucket, label axis in an array column), one per-doc aggregate, then
    * the argmax with ties → label asc (scores are exact longs, so equality
    * is exact). Emits (doc_id, pred_label, pred_score, margin); margin is
    * best − runner-up (0 on a tie), or the raw score when only one label
    * exists (the oracle's COALESCE(second, 0) twin).
    */
  private def linearPredict(
      s: org.apache.spark.sql.SparkSession,
      feats: org.apache.spark.sql.DataFrame,
      labels: Seq[String],
      w: Map[(String, Long), Long]): org.apache.spark.sql.DataFrame = {
    val allJ: Seq[Long] = -1L +: (0L until LINEAR_D.toLong)
    val wDf = s.createDataFrame(
      allJ.map(j => (j, labels.map(l => w((l, j))))))
      .toDF("j", "ws")
    val aggCols = labels.indices.map(i =>
      sum(col("tf") * expr(s"element_at(ws, ${i + 1})")).as(s"sc_$i"))
    val scored = feats.join(broadcast(wDf), "j")
      .groupBy("doc_id")
      .agg(aggCols.head, aggCols.tail: _*)
    val scArr = array(labels.indices.map(i => col(s"sc_$i")): _*)
    val withBest = scored
      .withColumn("best", array_max(scArr))
      .withColumn("sorted_sc", sort_array(scArr, asc = false))
    val predExpr = labels.indices.foldRight(lit(null).cast("string")) {
      (i, acc) => when(col(s"sc_$i") === col("best"), lit(labels(i))).otherwise(acc)
    }
    val margin =
      if (labels.size == 1) col("sc_0")
      else expr("element_at(sorted_sc, 1) - element_at(sorted_sc, 2)")
    withBest.select(col("doc_id"), predExpr.as("pred_label"),
      col("best").as("pred_score"), margin.as("margin"))
  }

  /** Trained state by (corpus dir, budget) — the bpeMemo discipline: the
    * curve/labels/weights are a pure function of the immutable corpus, so
    * the train/classify/confusion trio and the streaming twin share ONE
    * training run per session. Values are driver-side data only (≤
    * maxIters curve rows + n_labels×65 weight longs); no Spark state is
    * memoized.
    */
  private val linearMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), (Seq[(Long, Long, Long)], Seq[String], Map[(String, Long), Long])]()

  /** The convergence loop. Returns (curve rows (iter, n_mistakes,
    * w_abs_sum) for each EXECUTED iteration, labels asc, final weights).
    * Stops early on a zero-mistake round — and since a zero-mistake round
    * applies an empty update, the full-budget weight chain is a fixed
    * point from there, which is what lets the classify oracle always read
    * the budget-final weight table (see text_linear_classify).
    */
  private[graft] def linearTrain(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxIters: Int = LINEAR_ITERS)
      : (Seq[(Long, Long, Long)], Seq[String], Map[(String, Long), Long]) = {
    val cached = linearMemo.get((dir, maxIters))
    if (cached != null) return cached
    val docs = Tables.documents(s, dir)
    val labels: Seq[String] =
      docs.select("lang").distinct().collect().map(_.getString(0)).toSeq.sorted
    // loud, not an empty-join no-op: an empty corpus has no label set
    require(labels.nonEmpty, "linearTrain: empty corpus — no labels to train on")
    val feats = Materialize(linearFeats(docs))
    val truth = docs.select(col("doc_id"), col("lang"))
    val allJ: Seq[Long] = -1L +: (0L until LINEAR_D.toLong)
    var w: Map[(String, Long), Long] =
      (for (l <- labels; j <- allJ) yield (l, j) -> 0L).toMap
    val curve = Seq.newBuilder[(Long, Long, Long)]
    var it = 1
    var stop = false
    while (it <= maxIters && !stop) {
      val mist = Materialize(
        linearPredict(s, feats, labels, w)
          .join(truth, "doc_id")
          .filter(col("pred_label") =!= col("lang"))
          .select("doc_id", "lang", "pred_label"))
      val nMist = mist.count()
      if (nMist > 0) {
        val deltas = mist.join(feats, "doc_id")
          .select(col("lang").as("label"), col("j"), col("tf").as("d"))
          .union(mist.join(feats, "doc_id")
            .select(col("pred_label").as("label"), col("j"), (-col("tf")).as("d")))
          .groupBy("label", "j").agg(sum(col("d")).as("dw"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        w = w ++ deltas.map { case (k, dw) => k -> (w(k) + dw) }
      }
      curve += ((it.toLong, nMist, w.valuesIterator.map(math.abs).sum))
      stop = nMist == 0
      it += 1
    }
    val res = (curve.result(), labels, w)
    linearMemo.put((dir, maxIters), res)
    res
  }

  /** Serving pass under the trained weights, with the truth join — shared
    * by the classify/confusion entries and the streaming twin.
    */
  private[graft] def linearClassify(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (_, labels, w) = linearTrain(s, dir, LINEAR_ITERS)
    val docs = Tables.documents(s, dir)
    linearPredict(s, linearFeats(docs), labels, w)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("correct", col("pred_label") === col("lang"))
      .select("doc_id", "pred_label", "pred_score", "margin", "lang", "correct")
  }

  /** Label-free serving: score ANY (doc_id, text) frame under a collected
    * model — the shape the streaming monitor runs per trigger (arriving
    * docs carry no lang column; the model is fixed, so per-doc scores are
    * micro-batching-invariant).
    */
  private[graft] def linearScore(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      labels: Seq[String],
      w: Map[(String, Long), Long]): org.apache.spark.sql.DataFrame =
    linearPredict(s, linearFeats(docs), labels, w)

  /** Persist the trained weight grid — the linear model's entire artifact
    * (n_labels × 65 rows), the writeUnigramModel discipline: train once on
    * the standing corpus, read by every serving trigger.
    */
  private[graft] def writeLinearModel(
      s: org.apache.spark.sql.SparkSession, dir: String, path: String): Unit = {
    val (_, _, w) = linearTrain(s, dir, LINEAR_ITERS)
    s.createDataFrame(w.toSeq.map { case ((l, j), wt) => (l, j, wt) })
      .toDF("label", "j", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Collect a persisted weight grid back to serving form (control-plane
    * sized: n_labels × 65 longs).
    */
  private[graft] def readLinearModel(
      s: org.apache.spark.sql.SparkSession, path: String)
      : (Seq[String], Map[(String, Long), Long]) = {
    val w = s.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    (w.keysIterator.map(_._1).toSeq.distinct.sorted, w)
  }

  /** Oracle twin of [[linearTrain]]: the batch loop UNROLLED to `maxIters`
    * CTE blocks (score → argmax → mistake set → summed update → new weight
    * grid), stats per block, with the early stop expressed as the
    * stop-prefix filter (rows up to and including the first zero-mistake
    * round) — the kmeansTrain oracle discipline.
    */
  private def linearOracleChain(maxIters: Int): String = {
    val head =
      s"""lintoks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |linfeat AS (
         |  SELECT doc_id, ${md5IntSql("token")} % $LINEAR_D AS j, $countStarSql AS tf
         |  FROM lintoks GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(-1 AS BIGINT) AS j, CAST(1 AS BIGINT) AS tf
         |  FROM documents),
         |linlab AS (SELECT DISTINCT lang AS label FROM documents),
         |linw0 AS (SELECT label, CAST(jj AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
         |  FROM linlab CROSS JOIN (SELECT unnest(range(-1, $LINEAR_D)) AS jj))""".stripMargin
    val iters = (1 to maxIters).map { i =>
      val p = i - 1
      s"""linsc$i AS (SELECT f.doc_id, w.label, CAST(SUM(f.tf * w.w) AS BIGINT) AS sc
         |  FROM linfeat f JOIN linw$p w USING (j) GROUP BY 1, 2),
         |linpred$i AS (SELECT doc_id, label AS pred FROM (
         |    SELECT doc_id, label,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, label) AS rn
         |    FROM linsc$i) WHERE rn = 1),
         |linmist$i AS (SELECT p.doc_id, t.lang, p.pred
         |  FROM linpred$i p JOIN documents t USING (doc_id) WHERE p.pred <> t.lang),
         |linupd$i AS (SELECT label, j, CAST(SUM(d) AS BIGINT) AS dw FROM (
         |    SELECT m.lang AS label, f.j, CAST(f.tf AS BIGINT) AS d
         |    FROM linmist$i m JOIN linfeat f USING (doc_id)
         |    UNION ALL
         |    SELECT m.pred AS label, f.j, -CAST(f.tf AS BIGINT) AS d
         |    FROM linmist$i m JOIN linfeat f USING (doc_id)) GROUP BY 1, 2),
         |linw$i AS (SELECT w.label, w.j, CAST(w.w + COALESCE(u.dw, 0) AS BIGINT) AS w
         |  FROM linw$p w LEFT JOIN linupd$i u ON w.label = u.label AND w.j = u.j),
         |linstat$i AS (SELECT CAST($i AS BIGINT) AS iter,
         |  (SELECT $countStarSql FROM linmist$i) AS n_mistakes,
         |  (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM linw$i) AS w_abs_sum)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  // ---- DSIR importance weights -------------------------------------------
  /** Target-sample predicate and selection threshold (milli-bits/token) —
    * see the pipeline_dsir_weights comment for why the target is a SMALL
    * in-domain sample and how τ stays in cross-multiplied integers.
    */
  private val DSIR_TARGET_COND = "lang = 'en' AND source = 'src0'"
  private val DSIR_TAU_MILLI = 200L
  /** Positive shift for the systematic-resampling weights (covers the
    * observed llr range with margin; max(1, ·) floors the rest) and the
    * exact draw count K.
    */
  private val DSIR_SHIFT = 256L
  private val DSIR_SAMPLE_K = 100L

  /** Per-doc DSIR log-likelihood-ratio weights on the bit_length grid:
    * (doc_id, lang, source, n_tokens, llr_bits). Shared by the weights and
    * select entries. Token censuses: raw (token-keyed shuffle) and target
    * (tiny — broadcast), plus 1-row globals.
    */
  private[graft] def dsirScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), col("source"),
      explode(expr(toksCol)).as("token"))
    val raw = toks.groupBy("token").agg(count(lit(1)).as("tf_r"))
    val tgt = toks.filter(expr(DSIR_TARGET_COND))
      .groupBy("token").agg(count(lit(1)).as("tf_t"))
    val globals = raw.agg(sum(col("tf_r")).as("total_r"),
      count(lit(1)).as("vocab_n"))
      .crossJoin(tgt.agg(coalesce(sum(col("tf_t")), lit(0L)).as("total_t")))
    toks.join(raw, "token")
      .join(broadcast(tgt), Seq("token"), "left")
      .crossJoin(broadcast(globals)) // 1-row bound
      .groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr(
          """CAST(length(bin(COALESCE(tf_t, 0) + 1)) - length(bin(tf_r + 1))
            |   + length(bin(total_r + vocab_n)) - length(bin(total_t + vocab_n))
            | AS BIGINT)""".stripMargin)).as("llr_bits"))
  }

  /** Oracle twin of [[dsirScores]] through `dsirper`
    * (doc_id, lang, source, n_tokens, llr_bits).
    */
  private val dsirSqlPrelude: String =
    s"""dsirtoks AS (SELECT doc_id, lang, source, unnest($toksSql) AS token
       |  FROM documents),
       |dsirraw AS (SELECT token, $countStarSql AS tf_r FROM dsirtoks GROUP BY 1),
       |dsirtgt AS (SELECT token, $countStarSql AS tf_t FROM dsirtoks
       |  WHERE $DSIR_TARGET_COND GROUP BY 1),
       |dsirglob AS (SELECT
       |  (SELECT CAST(SUM(tf_r) AS BIGINT) FROM dsirraw) AS total_r,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dsirraw) AS vocab_n,
       |  (SELECT CAST(COALESCE(SUM(tf_t), 0) AS BIGINT) FROM dsirtgt) AS total_t),
       |dsirper AS (SELECT t.doc_id, t.lang, t.source, $countStarSql AS n_tokens,
       |  CAST(SUM(length(bin(COALESCE(g.tf_t, 0) + 1)) - length(bin(r.tf_r + 1))
       |         + length(bin(total_r + vocab_n)) - length(bin(total_t + vocab_n)))
       |    AS BIGINT) AS llr_bits
       |  FROM dsirtoks t JOIN dsirraw r USING (token)
       |  LEFT JOIN dsirtgt g USING (token) CROSS JOIN dsirglob
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Final-weights scoring + ranked CTEs shared by the classify/confusion
    * oracles (reads the budget-final `linw{maxIters}` grid — a fixed point
    * past convergence, see [[linearTrain]]).
    */
  private def linearRankedSql(maxIters: Int): String =
    s"""linscF AS (SELECT f.doc_id, w.label, CAST(SUM(f.tf * w.w) AS BIGINT) AS sc
       |  FROM linfeat f JOIN linw$maxIters w USING (j) GROUP BY 1, 2),
       |linranked AS (SELECT *,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, label) AS rn,
       |    lead(sc) OVER (PARTITION BY doc_id ORDER BY sc DESC, label) AS second
       |  FROM linscF)""".stripMargin

  /** Cross-document boilerplate-span removal — the corpus-REWRITE dedup op
    * (see the `pipeline_strip_spans` registry notes for the full design).
    * Split each doc into non-overlapping `spanTokens`-token spans, drop every
    * span whose verbatim text occurs in >= `minDocs` distinct documents, and
    * reassemble the survivors in order. Emits one scalar audit row per doc:
    * (doc_id, n_spans, n_dropped, clean_chars, clean_md5).
    */
  def stripSpans(docs: DataFrame, spanTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = Materialize(spanRowsOf(docs, spanTokens))
    val boiler = spans.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("g")
    scrubSpans(spans, boiler)
  }

  /** Non-overlapping span rows (doc_id, sid, span, g = md5(span)). */
  private def spanRowsOf(docs: DataFrame, spanTokens: Int): DataFrame =
    docs
      .select(col("doc_id"), expr(toksCol).as("ts"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(ts) - 1) div $spanTokens), " +
          s"i -> named_struct('sid', CAST(i AS BIGINT), " +
          s"'span', array_join(slice(ts, i * $spanTokens + 1, $spanTokens), ' ')))")).as("c"))
      .select(col("doc_id"), col("c.sid").as("sid"),
        col("c.span").as("span"), md5(col("c.span")).as("g"))

  /** The trainable boilerplate artifact: hashes of spans occurring verbatim
    * in >= `minDocs` distinct documents — persisted once per corpus, read
    * by every scrubbing trigger (the unigram-model lifecycle).
    */
  def boilerSpansOf(docs: DataFrame, spanTokens: Int = 8, minDocs: Int = 2): DataFrame =
    spanRowsOf(docs, spanTokens).groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("g")

  /** Scrub `docs` against a FIXED boilerplate span set. Per-doc pure
    * function of (doc, boiler), so any micro-batching of the input equals
    * the one-shot pass — the property the streaming twin pins.
    */
  def stripSpansAgainst(docs: DataFrame, boiler: DataFrame, spanTokens: Int = 8): DataFrame =
    scrubSpans(Materialize(spanRowsOf(docs, spanTokens)), boiler)

  private def scrubSpans(spans: DataFrame, boiler: DataFrame): DataFrame = {
    val kept = spans.join(boiler, Seq("g"), "left_anti")
    val all = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val surv = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(sid, span))), " +
          "x -> x.span), ' ')").as("clean_text"))
    all.join(surv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        length(coalesce(col("clean_text"), lit(""))).cast("long").as("clean_chars"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
  }

  /** Winnowing geometry (Schleimer/Wilkerson/Aiken's local fingerprint
    * selection, SIGMOD 2003 — the MOSS algorithm): hash every token
    * K-gram, then per sliding window of W consecutive gram hashes SELECT
    * the minimal hash, rightmost position on ties. Guarantee: any run of
    * >= W + K − 1 = 8 tokens shared verbatim between two documents shares
    * at least one SELECTED fingerprint — the same 8-token detection
    * granularity as dedup_substring, at an expected 2/(W+1) = 1/3 of the
    * index size (the fraction of grams winnowing keeps). That factor is
    * the 100 TB point: the candidate join of dedup_winnow_pairs shuffles
    * a third of the digests dedup_substring does for the same guarantee
    * class, and unlike every-Nth-gram sampling the selection is
    * POSITION-ROBUST (a junk prefix shifts all gram positions but local
    * minima re-align — pinned in WinnowSpec).
    */
  private[graft] val WINNOW_K = 4
  private[graft] val WINNOW_W = 5
  // composite c = h·2^20 + (2^20 − 1 − p): one BIGINT whose window MIN is
  // "smallest hash, largest position on ties" — the paper's rightmost-min
  // rule without struct ordering on either engine. h < 2^32 (md5Int), so
  // c < 2^52; injective while p < 2^20 (the documented million-token
  // position bound).
  private val WIN_POS = 1048576L

  /** The selected fingerprint set: one row per distinct (doc, pos, fp)
    * selection. Documented deviation from the paper, mirrored exactly in
    * [[winnowSqlCte]]: EVERY gram position starts a window and the last
    * W − 1 are partial, so no full-window special case exists and a doc
    * with >= 1 gram always selects >= 1 fingerprint (short docs included).
    * Scale: one map pass hashes grams, the per-doc window is partitioned
    * by doc_id (parallel across docs, frame W rows), one distinct —
    * fingerprints shuffle, text never does.
    */
  /** (doc_id, g): one row per word-8-gram occurrence, g = the gram's md5 hex
    * — the decontamination-family gram table (pipeline_decontaminate /
    * _bloom / curate_ledger all derive from it). Tokens are space-split;
    * docs under 8 tokens have no 8-grams and are filtered (without the
    * guard, Spark's `sequence(0, negative)` runs DESCENDING — DuckDB's
    * `range` is simply empty for them). Digests come from the one-pass
    * native kernel (graft_gram_md5, [[graft.functions.GramDigests]]) —
    * byte-identical to the `md5(concat_ws(' ', slice(toks, i+1, 8)))`
    * lambda it replaced, minus the interpreted higher-order function.
    */
  private def gram8Rows(df: DataFrame): DataFrame = {
    df.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr("graft_gram_md5(toks, 8)")).as("g"))
  }

  private[graft] def winnowSelected(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    docs
      .select(col("doc_id"), expr(toksCol).as("toks"))
      // < K tokens ⇒ no grams (and sequence(0, negative) runs DESCENDING —
      // the pipeline_decontaminate guard)
      .filter(size(col("toks")) >= WINNOW_K)
      // enforce the packing bound AT RUNTIME, per row: a doc past ~1M tokens
      // would bleed position bits into the hash field of the composite,
      // silently corrupting its fingerprints (and the dedup guarantee) —
      // fail the row loudly instead. assert_true is NULL on pass, so the
      // filter keeps every valid row while the invalid one raises.
      .filter(assert_true(
        size(col("toks")).cast("long") - WINNOW_K < lit(WIN_POS),
        concat(lit(s"winnowSelected: document exceeds the $WIN_POS-gram " +
          "position-packing bound (doc_id "), col("doc_id"), lit(")"))).isNull)
      // graft_gram_md5_long (GramDigests): one-pass native window digests,
      // value-identical to CAST(conv(substr(md5(concat_ws(slice)),1,8),16,10))
      .select(col("doc_id"),
        posexplode(expr(s"graft_gram_md5_long(toks, $WINNOW_K)")).as(Seq("p", "h")))
      .select(col("doc_id"), col("p"),
        (col("h") * WIN_POS + (lit(WIN_POS - 1) - col("p"))).as("c"))
      .withColumn("cmin", min(col("c")).over(w))
      .select(col("doc_id"), col("cmin")).distinct()
      .select(col("doc_id"),
        expr(s"${WIN_POS - 1} - (cmin % $WIN_POS)").as("pos"),
        expr(s"cmin div $WIN_POS").as("fp"))
  }

  /** DuckDB twin of [[winnowSelected]], ending in `wsel(doc_id, pos, fp)`.
    * Parallel unnests zip positions with hashes; the window frame and the
    * composite decode mirror the Spark build token for token.
    */
  private[graft] val winnowSqlCte: String =
    s"""wtok AS (SELECT doc_id, $toksSql AS toks FROM documents
       |  WHERE len($toksSql) >= $WINNOW_K),
       |wg AS (SELECT doc_id,
       |    unnest(range(0, len(toks) - ${WINNOW_K - 1})) AS p,
       |    unnest(list_transform(range(0, len(toks) - ${WINNOW_K - 1}),
       |      i -> ${md5IntSql(s"array_to_string(toks[i + 1:i + $WINNOW_K], ' ')")})) AS h
       |  FROM wtok),
       |wc AS (SELECT doc_id, p, h * $WIN_POS + ($WIN_POS - 1 - p) AS c FROM wg),
       |wm AS (SELECT DISTINCT doc_id,
       |    min(c) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WINNOW_W - 1} FOLLOWING) AS cmin
       |  FROM wc),
       |wsel AS (SELECT doc_id, ${WIN_POS - 1} - (cmin % $WIN_POS) AS pos,
       |  cmin // $WIN_POS AS fp FROM wm)""".stripMargin

  /** The Gopher rule battery as a reusable map-only projection over any
    * (doc_id, text) frame — the registered `text_gopher_rules` entry and
    * the streaming audit ([[graft.streaming.DocumentsStream.runGopherAudit]])
    * share it, so batch and stream are pinned to the same column
    * expressions by construction. Unsorted; callers order.
    */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame = {
    val en = markerArr(langMarkers.head._2)
    docs
      .select(col("doc_id"),
        expr(s"CAST(size($toksCol) AS BIGINT)").as("n"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("ch"),
        expr(s"CAST(size(filter($toksCol, t -> array_contains(array($en), t))) AS BIGINT)")
          .as("nstop"),
        expr(s"CAST(size(array_distinct($toksCol)) AS BIGINT)").as("ndis"),
        expr(s"""CAST(array_max(transform(array_distinct($toksCol),
                |  w -> size(filter($toksCol, t -> t = w)))) AS BIGINT)""".stripMargin)
          .as("maxtf"))
      .select(col("doc_id"),
        (col("n") >= 30 && col("n") <= 100000).as("r_wordcount"),
        (lit(3) * col("n") <= col("ch") && col("ch") <= lit(10) * col("n")).as("r_meanwl"),
        (col("nstop") >= 2).as("r_stopword"),
        (lit(5) * col("maxtf") <= col("n")).as("r_maxtf"),
        (lit(10) * col("ndis") >= lit(3) * col("n")).as("r_ttr"))
      .withColumn("n_fail",
        (when(col("r_wordcount"), 0L).otherwise(1L) +
          when(col("r_meanwl"), 0L).otherwise(1L) +
          when(col("r_stopword"), 0L).otherwise(1L) +
          when(col("r_maxtf"), 0L).otherwise(1L) +
          when(col("r_ttr"), 0L).otherwise(1L)).as("n_fail"))
      .withColumn("pass", col("n_fail") === 0L)
  }

  val defs: Seq[GQuery] = Seq(

    GQuery(
      "text_tokens",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr(s"size($toksCol)").cast("long").as("n_tokens"),
            expr(s"size(array_distinct($toksCol))").cast("long").as("n_uniq_tokens"),
            expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("n_word_tokens"),
            length(col("text")).cast("long").as("len"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
              |CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_uniq_tokens,
              |CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
              |CAST(length(text) AS BIGINT) AS len
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // Quality scoring: length stats, stopword ratio, type-token ratio.
      // All ratios are divisions of identical integers → bit-exact doubles.
      "text_quality",
      (s, dir) => {
        val en = markerArr(langMarkers.head._2)
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr(s"size($toksCol)").cast("long").as("n_tokens"),
            (length(regexp_replace(col("text"), " ", "")).cast("double") /
              expr(s"size($toksCol)").cast("double")).as("avg_word_len"),
            (expr(s"size(filter($toksCol, t -> array_contains(array($en), t)))").cast("double") /
              expr(s"size($toksCol)").cast("double")).as("stopword_ratio"),
            (expr(s"size(array_distinct($toksCol))").cast("double") /
              expr(s"size($toksCol)").cast("double")).as("type_token_ratio"))
          .orderBy("doc_id")
      },
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
           |CAST(length(replace(text, ' ', '')) AS DOUBLE)/CAST(len($toksSql) AS DOUBLE) AS avg_word_len,
           |CAST(len(list_filter($toksSql, t -> list_contains([${en}], t))) AS DOUBLE)
           |  /CAST(len($toksSql) AS DOUBLE) AS stopword_ratio,
           |CAST(len(list_distinct($toksSql)) AS DOUBLE)/CAST(len($toksSql) AS DOUBLE) AS type_token_ratio
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    GQuery(
      // Gopher-style quality RULE audit (Rae et al. 2021 §A1.1, the rule
      // battery every public curation stack re-implements): per doc one
      // boolean per rule plus the failure count, so downstream filters
      // compose rule subsets instead of re-deriving them. Thresholds are
      // integer CROSS-MULTIPLICATIONS — 3 ≤ mean word length ≤ 10 becomes
      // 3n ≤ chars ≤ 10n, "top token ≤ 20%" becomes 5·max_tf ≤ n — no
      // division anywhere, so both engines agree bit-exactly and the rules
      // keep exact semantics at any doc length. max_tf is computed IN-ROW
      // (transform over the distinct tokens, O(len·distinct) on ≤ 99-token
      // docs) — the whole audit is one map-only projection; nothing
      // shuffles until the output sort, at 100 TB a pure scan pass that
      // fuses into whatever filter consumes it.
      "text_gopher_rules",
      (s, dir) => gopherRulesOf(Tables.documents(s, dir)).orderBy("doc_id"),
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""WITH g AS (SELECT doc_id,
           |    CAST(len($toksSql) AS BIGINT) AS n,
           |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS ch,
           |    CAST(len(list_filter($toksSql, t -> list_contains([$en], t))) AS BIGINT) AS nstop,
           |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS ndis,
           |    CAST(list_max(list_transform(list_distinct($toksSql),
           |      w -> len(list_filter($toksSql, t -> t = w)))) AS BIGINT) AS maxtf
           |  FROM documents),
           |r AS (SELECT doc_id,
           |    n BETWEEN 30 AND 100000 AS r_wordcount,
           |    3 * n <= ch AND ch <= 10 * n AS r_meanwl,
           |    nstop >= 2 AS r_stopword,
           |    5 * maxtf <= n AS r_maxtf,
           |    10 * ndis >= 3 * n AS r_ttr
           |  FROM g)
           |SELECT doc_id, r_wordcount, r_meanwl, r_stopword, r_maxtf, r_ttr,
           |  CAST((CASE WHEN r_wordcount THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_meanwl THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_stopword THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_maxtf THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_ttr THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
           |  (CASE WHEN r_wordcount THEN 0 ELSE 1 END) + (CASE WHEN r_meanwl THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_stopword THEN 0 ELSE 1 END) + (CASE WHEN r_maxtf THEN 0 ELSE 1 END) +
           |    (CASE WHEN r_ttr THEN 0 ELSE 1 END) = 0 AS pass
           |FROM r ORDER BY doc_id""".stripMargin
      }
    ),

    GQuery(
      // Temperature-scaled (α-smoothed) source mixing, α = 1/2 — the
      // multilingual-LM resampling rule (Conneau & Lample 2019; mT5's
      // sampling exponent): draw share q_i ∝ n_i^α so rare languages are
      // UPsampled relative to their natural share and dominant ones
      // capped, with the total budget held at the corpus size. Everything
      // is exact integer arithmetic: n_i^(1/2) is an EXACT integer sqrt of
      // the 1e6-scaled count (floor(sqrt(double)) seeded — sqrt/mul are
      // IEEE correctly-rounded on both engines — then ±1-corrected by
      // integer comparison, so the result is exactly isqrt(n·10^6)
      // regardless of rounding), the budget splits by largest-remainder
      // apportionment (Σ target_i = budget EXACTLY — floor division plus
      // the remainder ranked by fractional part), and the draw itself is
      // REALIZED deterministically: per language, epochs = target div n
      // full passes plus the first (target mod n) docs in md5 order once
      // more — every doc's copy count is reproducible, re-runs and the
      // oracle agree row-for-row, and targets > n_i express honest
      // oversampling (epochs > 1) instead of clipping. Scale: two census
      // shuffles (lang counts, the per-lang rank window); the allocation
      // itself is a ≤ n_langs-row control plane, and the copy explode is
      // map-side — bounded by epochs ≤ budget/n_i per row.
      "pipeline_mix_temperature",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            md5(concat(lit("tmix:"), col("doc_id").cast("string"))).as("r"))
        val cnt = d.groupBy("lang").agg(count(lit(1)).as("n"))
        val tot = cnt.agg(sum(col("n")).as("budget"))
        val sq = cnt.crossJoin(broadcast(tot))
          .withColumn("x", col("n") * lit(1000000L))
          .withColumn("c0", floor(sqrt(col("x").cast("double"))).cast("long"))
          .withColumn("s",
            when((col("c0") + 1) * (col("c0") + 1) <= col("x"), col("c0") + 1)
              .when(col("c0") * col("c0") > col("x"), col("c0") - 1)
              .otherwise(col("c0")))
        val st = sq.agg(sum(col("s")).as("stot"))
        val base = sq.crossJoin(broadcast(st))
          .withColumn("base", expr("(budget * s) div stot"))
          .withColumn("frac", expr("(budget * s) % stot"))
        val bs = base.agg(sum(col("base")).as("bsum"), max(col("budget")).as("budget2"))
        // global window over <= n_langs rows — a single-partition sort of
        // the 4-row allocation table, not a data-plane stage
        val wl = Window.orderBy(col("frac").desc, col("lang"))
        val alloc = base.withColumn("rk", row_number().over(wl).cast("long"))
          .crossJoin(broadcast(bs))
          .withColumn("target",
            col("base") + when(col("rk") <= col("budget2") - col("bsum"), 1L).otherwise(0L))
          .select("lang", "n", "target")
        val wr = Window.partitionBy("lang").orderBy("r", "doc_id")
        d.withColumn("rk", row_number().over(wr).cast("long"))
          .join(broadcast(alloc), "lang")
          .withColumn("e", expr("target div n"))
          .withColumn("rem", expr("target % n"))
          .withColumn("copies", col("e") + when(col("rk") <= col("rem"), 1L).otherwise(0L))
          .filter(col("copies") >= 1L)
          .select(col("lang"), col("doc_id"),
            explode(expr("sequence(1L, copies)")).as("copy_n"))
          .orderBy("lang", "doc_id", "copy_n")
      },
      Some("""WITH td AS (SELECT doc_id, lang,
             |    md5('tmix:' || CAST(doc_id AS VARCHAR)) AS r FROM documents),
             |tcnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM td GROUP BY lang),
             |ttot AS (SELECT CAST(SUM(n) AS BIGINT) AS budget FROM tcnt),
             |tsq AS (SELECT lang, n, budget, n * 1000000 AS x,
             |    CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT) AS c0
             |  FROM tcnt, ttot),
             |ts AS (SELECT lang, n, budget,
             |    CASE WHEN (c0+1)*(c0+1) <= x THEN c0+1
             |         WHEN c0*c0 > x THEN c0-1 ELSE c0 END AS s FROM tsq),
             |tst AS (SELECT CAST(SUM(s) AS BIGINT) AS stot FROM ts),
             |tbase AS (SELECT lang, n, budget, (budget * s) // stot AS base,
             |    (budget * s) % stot AS frac FROM ts, tst),
             |tbs AS (SELECT CAST(SUM(base) AS BIGINT) AS bsum, MAX(budget) AS budget2 FROM tbase),
             |talloc AS (SELECT lang, n,
             |    base + CASE WHEN rk <= budget2 - bsum THEN 1 ELSE 0 END AS target
             |  FROM (SELECT *, row_number() OVER (ORDER BY frac DESC, lang) AS rk FROM tbase), tbs),
             |trk AS (SELECT doc_id, lang,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS BIGINT) AS rk
             |  FROM td),
             |tsel AS (SELECT trk.lang, doc_id,
             |    (target // n) + CASE WHEN rk <= target % n THEN 1 ELSE 0 END AS copies
             |  FROM trk JOIN talloc ON trk.lang = talloc.lang)
             |SELECT lang, doc_id, copy_n FROM (
             |  SELECT lang, doc_id, unnest(range(1, copies + 1)) AS copy_n
             |  FROM tsel WHERE copies >= 1)
             |ORDER BY lang, doc_id, copy_n""".stripMargin)
    ),

    GQuery(
      // The temperature KNOB priced as a curve: per α ∈ {1, 1/2, 1/4} the
      // per-language share of the training mix, in exact ppm. α = 1 is the
      // natural (count-proportional) mix; α = 1/2 is pipeline_mix_
      // temperature's operating point; α = 1/4 flattens further toward
      // uniform — s_i = n_i^(1/4) computed as TWO nested exact integer
      // sqrts (isqrt(isqrt(n·10^12)), each floor(sqrt(double)) seeded and
      // ±1-corrected, so the fourth root is exact on the integer grid the
      // same way the square root is). Shares are s_i·10^6 div Σs — all
      // integer; the output is the table a mixture designer reads to pick
      // α. Corpus cost: ONE lang census; everything else is the ≤ n_langs
      // control plane.
      "pipeline_mix_temp_curve",
      (s, dir) => {
        val cnt = Tables.documents(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))
        def isqrtCol(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val c0 = floor(sqrt(x.cast("double"))).cast("long")
          when((c0 + 1) * (c0 + 1) <= x, c0 + 1)
            .when(c0 * c0 > x, c0 - 1).otherwise(c0)
        }
        val scaled = cnt
          .withColumn("s1", col("n") * lit(1000000L))
          .withColumn("s2", isqrtCol(col("n") * lit(1000000000000L)))
          .withColumn("s4", isqrtCol(isqrtCol(col("n") * lit(1000000000000L))))
        val curve = Seq(("a_1", "s1"), ("a_1_2", "s2"), ("a_1_4", "s4"))
          .map { case (lbl, c) =>
            scaled.select(lit(lbl).as("alpha"), col("lang"), col("n"), col(c).as("s"))
          }.reduce(_ unionByName _)
        val tot = curve.groupBy("alpha").agg(sum(col("s")).as("stot"))
        curve.join(broadcast(tot), "alpha")
          .select(col("alpha"), col("lang"), col("n"),
            expr("s * 1000000 div stot").as("share_ppm"))
          .orderBy("alpha", "lang")
      },
      Some("""WITH tcc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY lang),
             |tc1 AS (SELECT lang, n, n * 1000000000000 AS x,
             |    CAST(floor(sqrt(CAST(n * 1000000000000 AS DOUBLE))) AS BIGINT) AS c0
             |  FROM tcc),
             |tc2 AS (SELECT lang, n,
             |    CASE WHEN (c0+1)*(c0+1) <= x THEN c0+1
             |         WHEN c0*c0 > x THEN c0-1 ELSE c0 END AS s2 FROM tc1),
             |tc3 AS (SELECT lang, n, s2,
             |    CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT) AS d0 FROM tc2),
             |tc4 AS (SELECT lang, n, s2,
             |    CASE WHEN (d0+1)*(d0+1) <= s2 THEN d0+1
             |         WHEN d0*d0 > s2 THEN d0-1 ELSE d0 END AS s4 FROM tc3),
             |tcur AS (SELECT 'a_1' AS alpha, lang, n, n * 1000000 AS s FROM tc4
             |  UNION ALL SELECT 'a_1_2', lang, n, s2 FROM tc4
             |  UNION ALL SELECT 'a_1_4', lang, n, s4 FROM tc4),
             |ttot AS (SELECT alpha, CAST(SUM(s) AS BIGINT) AS stot
             |  FROM tcur GROUP BY alpha)
             |SELECT tcur.alpha AS alpha, lang, n, s * 1000000 // stot AS share_ppm
             |FROM tcur JOIN ttot ON tcur.alpha = ttot.alpha
             |ORDER BY tcur.alpha, lang""".stripMargin)
    ),

    GQuery(
      // Per-domain share caps — the CCNet/RefinedWeb hygiene rule the mix
      // family was missing: no single domain may exceed P = 20% of the
      // FINAL kept mix (a crawl burst or SEO farm must not dominate the
      // training set). That "share of the final total" makes the cap a
      // FIXED POINT — capping the head shrinks the total, which tightens
      // the cap — solved exactly by the standard water-fill scan: sort
      // domains by count desc; for each candidate number j of capped
      // domains, the maximal integer cap is C(j) = ⌊P·S_j / (1 − j·P)⌋
      // (S_j = the uncapped remainder's mass, all in ppm arithmetic), and
      // the unique consistent j is the one where the j-th largest domain
      // exceeds C(j) while the (j+1)-th fits under it. Every kept share
      // is then ≤ P by construction and C is maximal. The corpus's own
      // `source` column is uniform by construction (a cap never binds),
      // so the domain key models the Zipf head a real crawl has — a
      // deterministic doc_id bucketing with 52/24/12/6/3/3% mass, which
      // drives the scan through a 3-level cascade (d0, d1 AND d2 all
      // cap, each landing at exactly 20% of the final mix). Scale: one
      // census shuffle; the scan is a ≤ n_domains-row control plane
      // (the global windows sort 6 rows, not data); the per-doc keep
      // rule (lowest doc_ids within a capped domain) composes downstream
      // without another shuffle. Registered output is the allocation
      // table an operator audits: (domain, n_docs, kept, capped).
      "pipeline_source_caps",
      (s, dir) => {
        val P = 200000L // cap, ppm of the FINAL kept total
        val domCol = """CASE WHEN doc_id % 100 < 52 THEN 'd0'
                       |WHEN doc_id % 100 < 76 THEN 'd1'
                       |WHEN doc_id % 100 < 88 THEN 'd2'
                       |WHEN doc_id % 100 < 94 THEN 'd3'
                       |WHEN doc_id % 100 < 97 THEN 'd4'
                       |ELSE 'd5' END""".stripMargin.replace('\n', ' ')
        val cnt = Tables.documents(s, dir)
          .select(expr(domCol).as("domain"))
          .groupBy("domain").agg(count(lit(1)).as("n"))
        val tot = cnt.agg(sum(col("n")).as("total"))
        // global window over <= n_domains census rows — control plane
        val wd = Window.orderBy(col("n").desc, col("domain"))
        val ranked = cnt
          .withColumn("j", row_number().over(wd).cast("long"))
          .withColumn("pref", sum(col("n")).over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("njp1", lead(col("n"), 1).over(wd))
          .crossJoin(broadcast(tot))
        val candJ = ranked.select(col("j"), col("n").as("nj"), col("njp1"),
          (col("total") - col("pref")).as("sj"))
        val cand0 = ranked.filter(col("j") === 1)
          .select(lit(0L).as("j"), lit(null).cast("long").as("nj"),
            col("n").as("njp1"), col("total").as("sj"))
        val fixedPoint = cand0.unionByName(candJ)
          .filter(lit(1000000L) - col("j") * lit(P) > 0)
          .withColumn("cap", expr(s"($P * sj) div (1000000 - j * $P)"))
          // consistency: the j-th largest really needs the cap, the next
          // one really fits under it (a tie at the boundary keeps the
          // SMALLEST consistent j — capping at exactly n is a no-op)
          .filter((col("nj").isNull || col("nj") > col("cap")) &&
            (col("njp1").isNull || col("njp1") <= col("cap")))
          .orderBy("j").limit(1)
        cnt.crossJoin(broadcast(fixedPoint.select(col("cap"))))
          .select(col("domain"), col("n").as("n_docs"),
            least(col("n"), col("cap")).as("kept"),
            (col("n") > col("cap")).as("capped"))
          .orderBy("domain")
      },
      Some("""WITH spd AS (SELECT
             |    CASE WHEN doc_id % 100 < 52 THEN 'd0'
             |         WHEN doc_id % 100 < 76 THEN 'd1'
             |         WHEN doc_id % 100 < 88 THEN 'd2'
             |         WHEN doc_id % 100 < 94 THEN 'd3'
             |         WHEN doc_id % 100 < 97 THEN 'd4'
             |         ELSE 'd5' END AS domain
             |  FROM documents),
             |spc AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM spd GROUP BY domain),
             |spt AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM spc),
             |spr AS (SELECT domain, n,
             |    CAST(row_number() OVER (ORDER BY n DESC, domain) AS BIGINT) AS j,
             |    CAST(SUM(n) OVER (ORDER BY n DESC, domain
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref,
             |    lead(n) OVER (ORDER BY n DESC, domain) AS njp1
             |  FROM spc),
             |spcand AS (SELECT CAST(0 AS BIGINT) AS j, CAST(NULL AS BIGINT) AS nj,
             |    (SELECT n FROM spr WHERE j = 1) AS njp1, total AS sj
             |  FROM spt
             |  UNION ALL
             |  SELECT j, n AS nj, njp1, total - pref AS sj FROM spr, spt),
             |spfix AS (SELECT j, (200000 * sj) // (1000000 - j * 200000) AS cap
             |  FROM spcand
             |  WHERE 1000000 - j * 200000 > 0
             |    AND (nj IS NULL OR nj > (200000 * sj) // (1000000 - j * 200000))
             |    AND (njp1 IS NULL OR njp1 <= (200000 * sj) // (1000000 - j * 200000))
             |  ORDER BY j LIMIT 1)
             |SELECT domain, n AS n_docs, least(n, cap) AS kept, n > cap AS capped
             |FROM spc, spfix ORDER BY domain""".stripMargin)
    ),

    GQuery(
      // Epoch-budgeted source allocation — the data-constrained scaling
      // rule (Muennighoff et al. 2023, "Scaling Data-Constrained Language
      // Models"): given per-source UNIQUE token pools U_s and a total
      // training-token budget B, repeating a source beyond ~4 epochs
      // contributes almost nothing, so each source carries an absolute
      // ceiling cap_s = R·U_s (R = 4). Uniform target weights (each
      // curated source is an equal-priority bucket) make the allocation a
      // WATER-FILL: a small source saturates at its cap and its unused
      // share redistributes among the unsaturated — sort sources by cap
      // ASCENDING; for a candidate saturated-prefix size j the common
      // level is L(j) = (B − Σ_{i≤j} cap_i) div (n − j), and the unique
      // consistent j has cap_j ≤ L(j) < cap_{j+1} (smallest consistent j
      // on boundary ties — the pipeline_source_caps discipline; negative
      // remainders are filtered BEFORE the division on both engines,
      // since Spark `div` truncates where DuckDB `//` floors). Budget
      // here: B = 2·ΣU (two average epochs), which with the Zipf domain
      // head drives a 4-deep saturation cascade — the tail sources train
      // 4 full epochs, the mid source ~2.2, the head ~1. All integer;
      // epochs_ppm = alloc·1e6 div U is the per-source repetition factor
      // an operator reads off. Scale: one token-census shuffle (map-side
      // combined); the scan is a ≤ n_sources-row control plane, and the
      // per-doc sampling rule it implies (keep alloc_s of cap_s tokens)
      // composes downstream without another shuffle. At real corpus
      // scale, widen the ppm grid before multiplying (alloc·1e6 must fit
      // int64).
      "pipeline_epoch_budget",
      (s, dir) => {
        val R = 4L
        val domCol = """CASE WHEN doc_id % 100 < 52 THEN 'd0'
                       |WHEN doc_id % 100 < 76 THEN 'd1'
                       |WHEN doc_id % 100 < 88 THEN 'd2'
                       |WHEN doc_id % 100 < 94 THEN 'd3'
                       |WHEN doc_id % 100 < 97 THEN 'd4'
                       |ELSE 'd5' END""".stripMargin.replace('\n', ' ')
        val u = Tables.documents(s, dir)
          .select(expr(domCol).as("domain"),
            size(split(col("text"), " ")).cast("long").as("nt"))
          .groupBy("domain").agg(sum(col("nt")).as("u"))
          .withColumn("cap", col("u") * R)
        val tot = u.agg(sum(col("u")).as("usum"), count(lit(1)).as("nsrc"))
        // global window over <= n_sources census rows — control plane
        val wd = Window.orderBy(col("cap").asc, col("domain"))
        val ranked = u
          .withColumn("j", row_number().over(wd).cast("long"))
          .withColumn("pref", sum(col("cap")).over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cjp1", lead(col("cap"), 1).over(wd))
          .crossJoin(broadcast(tot))
          .withColumn("b", col("usum") * lit(2L))
        val candJ = ranked.select(col("j"), col("cap").as("cj"), col("cjp1"),
          (col("b") - col("pref")).as("sj"), col("nsrc"))
        val cand0 = ranked.filter(col("j") === 1)
          .select(lit(0L).as("j"), lit(null).cast("long").as("cj"),
            col("cap").as("cjp1"), col("b").as("sj"), col("nsrc"))
        val fixedPoint = cand0.unionByName(candJ)
          .filter(col("sj") >= 0 && col("nsrc") > col("j"))
          .withColumn("lvl", expr("sj div (nsrc - j)"))
          .filter((col("cj").isNull || col("cj") <= col("lvl")) &&
            (col("cjp1").isNull || col("cjp1") > col("lvl")))
          .orderBy("j").limit(1)
        u.crossJoin(broadcast(fixedPoint.select(col("lvl"))))
          .select(col("domain"), col("u").as("unique_tokens"),
            col("cap").as("cap_tokens"),
            least(col("cap"), col("lvl")).as("alloc_tokens"),
            expr("least(cap, lvl) * 1000000 div u").as("epochs_ppm"),
            (col("cap") <= col("lvl")).as("saturated"))
          .orderBy("domain")
      },
      Some("""WITH ebd AS (SELECT
             |    CASE WHEN doc_id % 100 < 52 THEN 'd0'
             |         WHEN doc_id % 100 < 76 THEN 'd1'
             |         WHEN doc_id % 100 < 88 THEN 'd2'
             |         WHEN doc_id % 100 < 94 THEN 'd3'
             |         WHEN doc_id % 100 < 97 THEN 'd4'
             |         ELSE 'd5' END AS domain,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |ebu AS (SELECT domain, CAST(SUM(nt) AS BIGINT) AS u,
             |    CAST(SUM(nt) * 4 AS BIGINT) AS cap
             |  FROM ebd GROUP BY domain),
             |ebt AS (SELECT CAST(SUM(u) AS BIGINT) AS usum,
             |    CAST(COUNT(*) AS BIGINT) AS nsrc,
             |    CAST(SUM(u) * 2 AS BIGINT) AS b FROM ebu),
             |ebr AS (SELECT domain, u, cap,
             |    CAST(row_number() OVER (ORDER BY cap, domain) AS BIGINT) AS j,
             |    CAST(SUM(cap) OVER (ORDER BY cap, domain
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref,
             |    lead(cap) OVER (ORDER BY cap, domain) AS cjp1
             |  FROM ebu),
             |ebcand AS (SELECT CAST(0 AS BIGINT) AS j, CAST(NULL AS BIGINT) AS cj,
             |    (SELECT cap FROM ebr WHERE j = 1) AS cjp1, b AS sj, nsrc
             |  FROM ebt
             |  UNION ALL
             |  SELECT j, cap AS cj, cjp1, b - pref AS sj, nsrc FROM ebr, ebt),
             |ebfix AS (SELECT j, sj // (nsrc - j) AS lvl FROM ebcand
             |  WHERE sj >= 0 AND nsrc > j
             |    AND (cj IS NULL OR cj <= sj // (nsrc - j))
             |    AND (cjp1 IS NULL OR cjp1 > sj // (nsrc - j))
             |  ORDER BY j LIMIT 1)
             |SELECT domain, u AS unique_tokens, cap AS cap_tokens,
             |  least(cap, lvl) AS alloc_tokens,
             |  least(cap, lvl) * 1000000 // u AS epochs_ppm,
             |  cap <= lvl AS saturated
             |FROM ebu, ebfix ORDER BY domain""".stripMargin)
    ),

    GQuery(
      // Marker-word language ID with deterministic argmax tie order
      // (es > de > fr > en on strict-greater comparisons).
      "text_langid",
      (s, dir) => {
        val scores = langMarkers.map { case (lang, ws) =>
          lang -> s"size(filter($toksCol, t -> array_contains(array(${markerArr(ws)}), t)))"
        }.toMap
        Tables.documents(s, dir)
          .select(
            col("doc_id"), col("lang").as("lang_actual"),
            expr(
              s"""CASE WHEN ${scores("es")} > greatest(${scores("en")}, ${scores("de")}, ${scores("fr")}) THEN 'es'
                 |WHEN ${scores("de")} > greatest(${scores("en")}, ${scores("fr")}) THEN 'de'
                 |WHEN ${scores("fr")} > ${scores("en")} THEN 'fr'
                 |ELSE 'en' END""".stripMargin).as("lang_pred"))
          .orderBy("doc_id")
      },
      Some {
        val scores = langMarkers.map { case (lang, ws) =>
          lang -> s"len(list_filter($toksSql, t -> list_contains([${markerArr(ws)}], t)))"
        }.toMap
        s"""SELECT doc_id, lang AS lang_actual,
           |CASE WHEN ${scores("es")} > greatest(${scores("en")}, ${scores("de")}, ${scores("fr")}) THEN 'es'
           |WHEN ${scores("de")} > greatest(${scores("en")}, ${scores("fr")}) THEN 'de'
           |WHEN ${scores("fr")} > ${scores("en")} THEN 'fr'
           |ELSE 'en' END AS lang_pred
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    GQuery(
      // Corpus term frequency: explode → partial-aggregated count → top 25.
      // The canonical text shuffle: map-side combine keeps the explode
      // output from ever hitting the wire unaggregated.
      "text_term_freq",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(explode(expr(toksCol)).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token"))
          .limit(25),
      Some(s"""SELECT token, $countStarSql AS tf FROM (
              |  SELECT unnest($toksSql) AS token FROM documents) t
              |GROUP BY token ORDER BY tf DESC, token LIMIT 25""".stripMargin)
    ),

    GQuery(
      // Rolling polynomial fingerprint over the token stream: fold
      // acc = (acc*31 + md5int(token)) mod 1e9+7. Order-sensitive (left
      // fold on both engines), collision-resistant enough for dup grouping.
      "text_fingerprint",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr(
              s"""aggregate(
                 |  transform($toksCol, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)),
                 |  CAST(0 AS BIGINT),
                 |  (acc, x) -> pmod(acc * 31 + x, 1000000007))""".stripMargin).as("fingerprint"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |list_reduce(
              |  list_prepend(CAST(0 AS BIGINT),
              |    list_transform($toksSql, t -> ${md5IntSql("t")})),
              |  (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
              |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // Winnowing fingerprint census (see winnowSelected): per doc the gram
      // count, how many (pos, fp) selections the windows kept (expected
      // ≈ 2/(W+1) of n_grams — the density the paper proves), the distinct
      // fingerprint count, and their exact integer sum as a value witness.
      // Docs with < K tokens report zeros. All counts census-sized; the
      // heavy (pos, fp) rows never leave their doc partition before the
      // per-doc aggregate.
      "text_winnow",
      (s, dir) => {
        val sel = winnowSelected(Tables.documents(s, dir))
        // [r22 opt, guide §2.3/§2.4] ONE aggregation over ONE derivation of
        // the selected set: count_distinct/sum_distinct(fp) are exactly the
        // old "distinct (doc_id, fp) then count/sum" leg, so the md5-gram
        // window pipeline runs once instead of twice and the per-doc stats
        // cross one exchange instead of three (two aggs + a distinct).
        val per = sel.groupBy("doc_id").agg(
          count(lit(1)).as("n_sel"),
          count_distinct(col("fp")).as("n_fp"),
          sum_distinct(col("fp")).as("fp_sum"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            expr(s"CAST(greatest(size($toksCol) - ${WINNOW_K - 1}, 0) AS BIGINT)").as("n_grams"))
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_sel"), lit(0L)).as("n_sel"),
            coalesce(col("n_fp"), lit(0L)).as("n_fp"),
            coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $winnowSqlCte,
              |persel AS (SELECT doc_id, $countStarSql AS n_sel FROM wsel GROUP BY doc_id),
              |perfp AS (SELECT doc_id, $countStarSql AS n_fp, CAST(SUM(fp) AS BIGINT) AS fp_sum
              |  FROM (SELECT DISTINCT doc_id, fp FROM wsel) GROUP BY doc_id),
              |sizes AS (SELECT doc_id,
              |  CAST(greatest(len($toksSql) - ${WINNOW_K - 1}, 0) AS BIGINT) AS n_grams
              |  FROM documents)
              |SELECT s.doc_id, s.n_grams,
              |  CAST(COALESCE(n_sel, 0) AS BIGINT) AS n_sel,
              |  CAST(COALESCE(n_fp, 0) AS BIGINT) AS n_fp,
              |  CAST(COALESCE(fp_sum, 0) AS BIGINT) AS fp_sum
              |FROM sizes s LEFT JOIN persel USING (doc_id) LEFT JOIN perfp USING (doc_id)
              |ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // Per-doc top term by a rational tf-idf variant: score = tf * N / df.
      // Avoiding ln() keeps the score an exact small-integer product/quotient
      // — both engines' libm log() could differ in the last ulp and flip
      // ranks. Classic two-pass shape: tf shuffles by (doc, token), df by
      // token with map-side combine; the doc-count scalar is broadcast.
      "text_top_terms",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("doc_id"), explode(expr(toksCol)).as("token"))
        // df derives from tf (already one row per (doc, token)) — the corpus
        // is exploded and shuffled once, not twice; Materialize (persist) stops the
        // tf subtree re-running for the df branch and the final join
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
          .transform(Materialize(_))
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
        tf.join(df, "token").crossJoin(broadcast(nd))
          .withColumn("score",
            col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("token").as("top_token"), col("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
              |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
              |  FROM tk GROUP BY doc_id, token),
              |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
              |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
              |sc AS (SELECT tf.doc_id, tf.token,
              |  CAST(tf.tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
              |  FROM tf JOIN df USING (token) CROSS JOIN nd),
              |r AS (SELECT doc_id, token, score,
              |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM sc)
              |SELECT doc_id, token AS top_token, score FROM r WHERE rn = 1
              |ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // BPE-style pre-tokenization count: the GPT-2 pre-tokenizer shape
      // (space-attached letter runs / digit runs / punctuation runs / space
      // runs) without the contraction cases. Both regex engines (Java,
      // DuckDB's RE2) use leftmost-first alternation, so the split — and the
      // count — agree. The practical "how many tokens is this corpus"
      // estimator when no tokenizer model ships with the engine.
      "text_bpe_tokens",
      (s, dir) => {
        val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            expr(s"size(regexp_extract_all(text, '$pat', 0))").cast("long").as("n_bpe_tokens"),
            (length(col("text")).cast("double") /
              expr(s"size(regexp_extract_all(text, '$pat', 0))").cast("double"))
              .as("chars_per_token"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS BIGINT)
             |  AS n_bpe_tokens,
             |CAST(length(text) AS DOUBLE) /
             |CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS DOUBLE)
             |  AS chars_per_token
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // The trained BPE merge table (a tokenizer's merges.txt): BPE_ROUNDS
      // most-frequent-pair merges over the distinct-word census — see
      // bpeTrain for the algorithm and scale notes. The oracle unrolls the
      // identical census → top-1 → greedy-fold rounds as chained CTEs.
      "text_bpe_merges",
      (s, dir) => {
        val (merges, _) = bpeTrain(s, dir, BPE_ROUNDS)
        s.createDataFrame(merges)
          .toDF("merge_rank", "lhs", "rhs", "merged", "pair_n")
          .orderBy("merge_rank")
      },
      Some(s"""WITH ${bpeOracleChain(BPE_ROUNDS)}
              |SELECT merge_rank, lhs, rhs, merged, pair_n FROM (
              |${(1 to BPE_ROUNDS).map(k => s"  SELECT * FROM top$k")
                 .mkString("\n  UNION ALL\n")})
              |ORDER BY merge_rank""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The apply side of the trainer: encode the corpus under the trained
      // merges. The classic serving trick makes this corpus-cheap: the
      // merge loop's final state IS the encoded DISTINCT-word table, so
      // application is one join of the token stream against it — the K
      // rewrite rounds never touch the corpus. Non-letter tokens fall back
      // to char-count (the byte-fallback every real BPE ships). Output:
      // per-doc word/subword/char counts + integer chars-per-subword, the
      // compression ratio a tokenizer report quotes.
      "text_bpe_encode",
      (s, dir) => {
        val (_, words) = bpeTrain(s, dir, BPE_ROUNDS)
        encodedDocReport(s, dir,
          words.select(col("w"), size(col("syms")).cast("long").as("n_sub")))
      },
      Some(s"""WITH ${bpeOracleChain(BPE_ROUNDS)},
              |enc AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM words$BPE_ROUNDS),
              |toks2 AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |per AS (SELECT doc_id,
              |    COALESCE(n_sub, CAST(length(w) AS BIGINT)) AS n_sub,
              |    CAST(length(w) AS BIGINT) AS n_chars
              |  FROM toks2 LEFT JOIN enc USING (w))
              |SELECT doc_id, $countStarSql AS n_words,
              |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
              |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              |  CASE WHEN SUM(n_sub) = 0 THEN 0
              |    ELSE CAST(SUM(n_chars) AS BIGINT) * 1000 // CAST(SUM(n_sub) AS BIGINT)
              |  END AS milli_chars_per_subword
              |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The subword vocabulary those merges induce: every symbol surviving
      // in the rewritten word census, weighted by word frequency — the
      // artifact text_oov_rate's "tokenizer vocabulary" models (single
      // chars + the merged subwords, each with its corpus token count).
      "text_bpe_vocab",
      (s, dir) => {
        val (_, words) = bpeTrain(s, dir, BPE_ROUNDS)
        words.select(explode(col("syms")).as("sym"), col("freq"))
          .groupBy("sym").agg(sum(col("freq")).as("n"))
          .withColumn("is_merged", (length(col("sym")) > 1))
          .orderBy(col("n").desc, col("sym"))
      },
      Some(s"""WITH ${bpeOracleChain(BPE_ROUNDS)}
              |SELECT sym, CAST(SUM(freq) AS BIGINT) AS n, length(sym) > 1 AS is_merged
              |FROM (SELECT unnest(syms) AS sym, freq FROM words$BPE_ROUNDS)
              |GROUP BY sym ORDER BY n DESC, sym""".stripMargin),
      trainer = true
    ),

    GQuery(
      // Tokenizer fertility per language — the multilingual-mixing input
      // every tokenizer report quotes (a language whose words explode into
      // many subwords pays more sequence length per unit text, so
      // byte-budget mixing must correct for it or silently under-train
      // that language). Per lang, under the TRAINED merges: subwords per
      // word (milli_fertility) and chars per subword, both on the integer
      // milli grid. Same serving trick as text_bpe_encode — the merge
      // loop's final state IS the encoded distinct-word table, so the
      // corpus pays one token-stream join + a per-lang aggregate; the K
      // training rounds never touch the corpus.
      "text_fertility",
      (s, dir) => {
        val (_, words) = bpeTrain(s, dir, BPE_ROUNDS)
        val enc = broadcast(
          words.select(col("w"), size(col("syms")).cast("long").as("n_sub")))
        Tables.documents(s, dir)
          .select(col("lang"), explode(expr(toksCol)).as("w"))
          .join(enc, Seq("w"), "left")
          .select(col("lang"),
            coalesce(col("n_sub"), length(col("w")).cast("long")).as("n_sub"),
            length(col("w")).cast("long").as("n_chars"))
          .groupBy("lang").agg(
            count(lit(1)).as("n_words"),
            sum(col("n_sub")).as("n_subwords"),
            sum(col("n_chars")).as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_subwords"), col("n_chars"),
            expr("n_subwords * 1000 div n_words").as("milli_fertility"),
            expr("CASE WHEN n_subwords = 0 THEN 0 " +
              "ELSE n_chars * 1000 div n_subwords END").as("milli_chars_per_subword"))
          .orderBy("lang")
      },
      Some(s"""WITH ${bpeOracleChain(BPE_ROUNDS)},
              |fenc AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM words$BPE_ROUNDS),
              |ftoks AS (SELECT lang, unnest($toksSql) AS w FROM documents),
              |fper AS (SELECT lang,
              |    COALESCE(n_sub, CAST(length(w) AS BIGINT)) AS n_sub,
              |    CAST(length(w) AS BIGINT) AS n_chars
              |  FROM ftoks LEFT JOIN fenc USING (w))
              |SELECT lang, $countStarSql AS n_words,
              |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
              |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              |  CAST(SUM(n_sub) AS BIGINT) * 1000 // $countStarSql AS milli_fertility,
              |  CASE WHEN SUM(n_sub) = 0 THEN 0
              |    ELSE CAST(SUM(n_chars) AS BIGINT) * 1000 // CAST(SUM(n_sub) AS BIGINT)
              |  END AS milli_chars_per_subword
              |FROM fper GROUP BY lang ORDER BY lang""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The WordPiece-objective merge table: same census→argmax→rewrite
      // loop as text_bpe_merges, but the argmax is the likelihood objective
      // pair_n/(lhs_n·rhs_n) on the exact nano grid (see wpTrain). The two
      // objectives genuinely diverge on this corpus — frequency rewards
      // common-times-common pairs, likelihood rewards pairs whose parts
      // rarely occur APART — pinned in TextNbSpec's differential test.
      "text_wp_merges",
      (s, dir) => {
        val (merges, _) = wpTrain(s, dir, BPE_ROUNDS)
        s.createDataFrame(merges)
          .toDF("merge_rank", "lhs", "rhs", "merged", "pair_n", "score_nano")
          .orderBy("merge_rank")
      },
      Some(s"""WITH ${wpOracleChain(BPE_ROUNDS)}
              |SELECT merge_rank, lhs, rhs, merged, pair_n, score_nano FROM (
              |${(1 to BPE_ROUNDS).map(k => s"  SELECT * FROM top$k")
                 .mkString("\n  UNION ALL\n")})
              |ORDER BY merge_rank""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The subword vocabulary the WordPiece merges induce — text_bpe_vocab's
      // twin over the likelihood-trained rewrite chain.
      "text_wp_vocab",
      (s, dir) => {
        val (_, words) = wpTrain(s, dir, BPE_ROUNDS)
        words.select(explode(col("syms")).as("sym"), col("freq"))
          .groupBy("sym").agg(sum(col("freq")).as("n"))
          .withColumn("is_merged", (length(col("sym")) > 1))
          .orderBy(col("n").desc, col("sym"))
      },
      Some(s"""WITH ${wpOracleChain(BPE_ROUNDS)}
              |SELECT sym, CAST(SUM(freq) AS BIGINT) AS n, length(sym) > 1 AS is_merged
              |FROM (SELECT unnest(syms) AS sym, freq FROM words$BPE_ROUNDS)
              |GROUP BY sym ORDER BY n DESC, sym""".stripMargin),
      trainer = true
    ),

    GQuery(
      // Unigram-LM surprisal quality score — the model-based filter every
      // pipeline applies after the heuristic ones (perplexity filtering à
      // la CCNet/Gopher, in exact integers): train unigram counts on the
      // corpus itself, then score each doc as Σ_tokens
      // (bit_length(total) − bit_length(tf)) — per-token this is
      // ⌈log2⌉-grid surprisal ≈ log2(total/tf), summed as plain longs so
      // no ln()/float can drift cross-engine (bit_length(x) =
      // length(bin(x)) on both engines). High bits/token ⇒ rare-token
      // gibberish; low ⇒ boilerplate repetition. Scale: one token census
      // (map-side combined), one shuffle join of the token stream with the
      // counts, one per-doc aggregate — the corpus is never read twice.
      "text_surprisal",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val (counts, total) = unigramCounts(docs)
        surprisalOf(docs, counts, total).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
              |counts AS (SELECT token, $countStarSql AS tf FROM toks GROUP BY token),
              |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM counts),
              |per_doc AS (SELECT doc_id, $countStarSql AS n_tokens,
              |  CAST(SUM(length(bin(total)) - length(bin(tf))) AS BIGINT) AS surprisal_bits
              |  FROM toks JOIN counts USING (token) CROSS JOIN tot
              |  GROUP BY doc_id)
              |SELECT doc_id, n_tokens, surprisal_bits,
              |  surprisal_bits * 1000 // n_tokens AS milli_bits_per_token
              |FROM per_doc ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // Bigram-LM surprisal — the conditional-model step up from
      // text_surprisal's unigram score (production quality filters use a
      // small LM's perplexity; the bigram is its exact-integer analog):
      // per consecutive token pair, bits ≈ bit_length(count(prev·)) −
      // bit_length(count(prev, cur)), summed per doc. A doc of common
      // words in an UNCOMMON order now scores high where the unigram
      // model cannot see past the marginals. Two censuses (bigram and
      // its context marginal — both bounded by observed-vocab², far
      // below corpus size) and two equi-joins back to the pair stream.
      // The pair explode recomputes per consumer (three map-stage scans)
      // rather than caching: the dedup_prefix_filter measurement
      // precedent — materializing a corpus-size intermediate costs more
      // than re-running a columnar scan + split.
      // Scoring the training corpus itself
      // means every pair is seen, so no back-off fires (the serving twin
      // would take persisted counts with the tf=1 fallback, exactly as
      // the unigram monitor does). Docs with one token have no pairs and
      // drop on both engines alike.
      "text_surprisal_bigram",
      (s, dir) => {
        val pairs = Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksCol).as("ts"))
          .select(col("doc_id"), explode(expr(
            "transform(slice(ts, 1, size(ts) - 1), " +
              "(t, i) -> named_struct('prev', t, 'cur', element_at(ts, i + 2)))")).as("p"))
          .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
        val bf = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("bf"))
        val cf = pairs.groupBy("prev").agg(count(lit(1)).as("cf"))
        pairs.join(bf, Seq("prev", "cur")).join(cf, Seq("prev"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr("CAST(length(bin(cf)) - length(bin(bf)) AS BIGINT)"))
              .as("surprisal_bits"))
          .withColumn("milli_bits_per_pair",
            expr("surprisal_bits * 1000 div n_pairs"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
              |pairs AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i ->
              |    struct_pack(prev := ts[i], cur := ts[i + 1]))) AS p FROM toks),
              |pp AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM pairs),
              |bf AS (SELECT prev, cur, $countStarSql AS bf FROM pp GROUP BY 1, 2),
              |cf AS (SELECT prev, $countStarSql AS cf FROM pp GROUP BY 1),
              |per_doc AS (SELECT doc_id, $countStarSql AS n_pairs,
              |  CAST(SUM(length(bin(cf.cf)) - length(bin(bf.bf))) AS BIGINT) AS surprisal_bits
              |  FROM pp JOIN bf USING (prev, cur) JOIN cf USING (prev)
              |  GROUP BY doc_id)
              |SELECT doc_id, n_pairs, surprisal_bits,
              |  surprisal_bits * 1000 // n_pairs AS milli_bits_per_pair
              |FROM per_doc ORDER BY doc_id""".stripMargin)
    ),

    // ---- integer naive Bayes: train / classify / audit ---------------------
    GQuery(
      // The trained model's per-label stats (the classifier's entire
      // control plane — one row per label): doc prior and token-mass
      // denominator, both on the bit_length grid. The Spark side derives
      // every term IN the plan (no driver literals) so this query
      // cross-checks the collected stats nbScores bakes into its stacked
      // bits columns — a driver-side drift would hash-mismatch here or in
      // text_nb_classify.
      "text_nb_train",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("lang").as("label"),
          explode(expr(toksCol)).as("token"))
        val counts = toks.groupBy("label", "token").agg(count(lit(1)).as("tf"))
        val vocab = counts.select("token").distinct().agg(count(lit(1)).as("vocab_n"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        counts.groupBy("label").agg(sum("tf").as("total_tf"))
          .join(docs.groupBy(col("lang").as("label"))
            .agg(count(lit(1)).as("n_docs_label")), Seq("label"))
          .crossJoin(broadcast(vocab)) // 1-row bound
          .crossJoin(broadcast(nd)) // 1-row bound
          .select(col("label"), col("n_docs_label"), col("total_tf"),
            expr("CAST(length(bin(n_docs)) - length(bin(n_docs_label)) AS BIGINT)")
              .as("prior_bits"),
            expr("CAST(length(bin(total_tf + vocab_n)) AS BIGINT)")
              .as("denom_bits"))
          .orderBy("label")
      },
      Some(s"""WITH $nbSqlPrelude
              |SELECT label, n_docs_label, total_tf,
              |  CAST(length(bin(n_docs)) - length(bin(n_docs_label)) AS BIGINT)
              |    AS prior_bits,
              |  CAST(length(bin(total_tf + vocab_n)) AS BIGINT) AS denom_bits
              |FROM nblstats JOIN nbldocs USING (label) CROSS JOIN nbglob
              |ORDER BY label""".stripMargin)
    ),

    GQuery(
      // Per-doc prediction: argmin-bits label, its bits, the runner-up
      // margin (the classifier's confidence), and agreement with the
      // metadata lang. The oracle recomputes the identical bits the
      // straightforward way (token stream × label list), so the two
      // radically different plans must agree bit-for-bit. See the nbScores
      // comment for the honest-measurement note: this corpus is
      // label-structureless, so NB predicts the prior — TextNbSpec shows
      // the same code learning a corpus that HAS signal.
      "text_nb_classify",
      (s, dir) => nbClassify(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH $nbSqlPrelude,
              |$nbRankedSql
              |SELECT r.doc_id, r.label AS pred_label, r.bits AS pred_bits,
              |  CAST(r.second - r.bits AS BIGINT) AS margin_bits, d.lang,
              |  r.label = d.lang AS correct
              |FROM ranked r JOIN documents d USING (doc_id)
              |WHERE rn = 1 ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // The confusion matrix (true lang × predicted label) — the accuracy
      // audit a classifier report leads with, one bounded
      // n_labels²-at-most row set.
      "text_nb_confusion",
      (s, dir) =>
        nbClassify(Tables.documents(s, dir))
          .groupBy("lang", "pred_label").agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_label"),
      Some(s"""WITH $nbSqlPrelude,
              |$nbRankedSql
              |SELECT d.lang, r.label AS pred_label, $countStarSql AS n
              |FROM ranked r JOIN documents d USING (doc_id)
              |WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // ---- hashed-feature batch perceptron: train / classify / audit ---------
    GQuery(
      // The measured convergence curve — (iter, n_mistakes, w_abs_sum) per
      // executed round, early-stopped on the first zero-mistake round. See
      // linearTrain for the algorithm and the scale split (feature census
      // built once; weight state control-plane). Honest measurement: on
      // this label-structureless corpus the curve records thrash, not
      // descent — sf0.01: mistakes 430 → 282 → 425 → 426, and the final
      // model collapses to the 'en' prior (218/500 correct — exactly
      // text_nb_classify's regime). LinearTrainSpec pins the same loop
      // CONVERGING (mistakes → 0, early stop) on a separable corpus.
      "text_linear_train",
      (s, dir) => {
        val (curve, _, _) = linearTrain(s, dir, LINEAR_ITERS)
        s.createDataFrame(curve)
          .toDF("iter", "n_mistakes", "w_abs_sum").orderBy("iter")
      },
      Some(s"""WITH ${linearOracleChain(LINEAR_ITERS)}
              |SELECT iter, n_mistakes, w_abs_sum FROM (
              |  SELECT *, COALESCE(MIN(n_mistakes) OVER (ORDER BY iter
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1) AS prevmin
              |  FROM (${(1 to LINEAR_ITERS).map(i => s"SELECT * FROM linstat$i")
                 .mkString(" UNION ALL ")}))
              |WHERE prevmin > 0 ORDER BY iter""".stripMargin),
      trainer = true
    ),

    GQuery(
      // Per-doc prediction under the trained weights: argmax label, its
      // score, the runner-up margin (0 on a tie; the raw score when only
      // one label exists), and agreement with the metadata lang — the
      // text_nb_classify surface for the linear model. The oracle scores
      // against the BUDGET-final weight grid: past a zero-mistake round
      // the update is empty, so the full-budget chain is a fixed point and
      // always equals the early-stopped weights the Spark side serves.
      "text_linear_classify",
      (s, dir) => linearClassify(s, dir).orderBy("doc_id"),
      Some(s"""WITH ${linearOracleChain(LINEAR_ITERS)},
              |${linearRankedSql(LINEAR_ITERS)}
              |SELECT r.doc_id, r.label AS pred_label, r.sc AS pred_score,
              |  CAST(r.sc - COALESCE(r.second, 0) AS BIGINT) AS margin,
              |  d.lang, r.label = d.lang AS correct
              |FROM linranked r JOIN documents d USING (doc_id)
              |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
      trainer = true
    ),

    GQuery(
      // The linear model's confusion matrix (true lang × predicted label)
      // — the bounded n_labels²-at-most accuracy audit, text_nb_confusion's
      // twin over the perceptron.
      "text_linear_confusion",
      (s, dir) =>
        linearClassify(s, dir)
          .groupBy("lang", "pred_label").agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_label"),
      Some(s"""WITH ${linearOracleChain(LINEAR_ITERS)},
              |${linearRankedSql(LINEAR_ITERS)}
              |SELECT d.lang, r.label AS pred_label, $countStarSql AS n
              |FROM linranked r JOIN documents d USING (doc_id)
              |WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      trainer = true
    ),

    // ---- DSIR importance weights (data selection via importance resampling)
    GQuery(
      // Xie et al. 2023's DSIR selection signal in exact integers: weight
      // every raw doc by how target-like its unigram distribution is,
      //   llr(d) = Σ_tokens [log2 p_target(t) − log2 p_raw(t)]
      // on the bit_length ⌈log2⌉ grid (the text_surprisal/NB discipline —
      // zero libm drift): per token occurrence,
      //   [bitlen(tf_t+1) − bitlen(tf_r+1)]                 [Laplace +1]
      // + [bitlen(total_r+V) − bitlen(total_t+V)]           [normalizers]
      // with V the RAW vocabulary shared by both models. The target is a
      // SMALL in-domain sample (lang='en' ∧ source='src0' — the paper's
      // setting is a small target set against a huge raw corpus; a
      // full-lang target is indistinguishable from raw on this
      // shared-vocab synthetic corpus: every per-token ratio rounds to
      // the same grid cell and the llr column is identically 0 —
      // measured before fixing the target at the small sample, where the
      // weights spread over 231 distinct milli values in [−200, 687] at
      // sf0.01). Selection stays in cross-multiplied integers (the
      // q_tpch_q22/PPJoin rule): selected ⇔ llr·1000 ≥ τ·n_tokens.
      //
      // Scale (100 TB): one raw token census (map-side combined, token-
      // keyed shuffle), one tiny target census + 1-row globals (both
      // broadcast), one join of the token stream against the censuses,
      // one per-doc aggregate — the corpus is never read twice, and
      // nothing corpus-sized shuffles except the (doc, token)-level
      // stream into its per-doc aggregate.
      "pipeline_dsir_weights",
      (s, dir) => dsirScores(Tables.documents(s, dir))
        .withColumn("selected",
          col("llr_bits") * 1000 >= lit(DSIR_TAU_MILLI) * col("n_tokens"))
        .orderBy("doc_id"),
      Some(s"""WITH $dsirSqlPrelude
              |SELECT doc_id, lang, source, n_tokens, llr_bits,
              |  llr_bits * 1000 >= $DSIR_TAU_MILLI * n_tokens AS selected
              |FROM dsirper ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // The resampling step itself — DSIR's "importance RESAMPLING" made
      // exact: systematic resampling (the low-variance scheme from the
      // particle-filter literature, Douc & Cappé 2005) over the llr
      // weights, entirely in integers. Weights are shifted positive
      // (w = max(1, llr+256) — the floor keeps every doc sample-able),
      // laid on a deterministic (source, doc_id) line, and doc d draws
      //   n_copies(d) = ⌊cum_d·K/T⌋ − ⌊(cum_d−w_d)·K/T⌋
      // — the K evenly spaced pointers that land in d's weight segment.
      // The multiplicities TELESCOPE to exactly K (pinned in DsirSpec),
      // heavy docs legitimately draw > 1 copy (sampling with
      // replacement), and there is no randomness to seed: the "offsets"
      // are the integer grid itself.
      //
      // Scale (100 TB): the global prefix sum is the only nontrivial
      // piece — it runs as per-SOURCE windows (parallel across sources)
      // plus a control-plane offset table (one row per source, collected
      // and broadcast; the oracle recomputes it as a window over source
      // totals). A single giant source would serialize its window — the
      // standard fix is one more split level (source × doc_id-range
      // buckets with a second bounded offset table), same algebra.
      "pipeline_dsir_sample",
      (s, dir) => {
        val w = dsirScores(Tables.documents(s, dir))
          .select(col("doc_id"), col("lang"), col("source"),
            greatest(lit(1L), col("llr_bits") + lit(DSIR_SHIFT)).as("w"))
        val stot = w.groupBy("source").agg(sum(col("w")).as("sw"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
        val total = stot.map(_._2).sum
        val offs = stot.map(_._1).zip(stot.scanLeft(0L)(_ + _._2).dropRight(1))
        val offDf = broadcast(s.createDataFrame(offs.toSeq).toDF("source", "off"))
        val win = Window.partitionBy("source").orderBy("doc_id")
        w.join(offDf, "source")
          .withColumn("cum", col("off") + sum(col("w")).over(win))
          .withColumn("n_copies",
            expr(s"cum * $DSIR_SAMPLE_K div ${total}L" +
              s" - (cum - w) * $DSIR_SAMPLE_K div ${total}L"))
          .filter(col("n_copies") >= 1)
          .select("doc_id", "lang", "source", "w", "n_copies")
          .orderBy("doc_id")
      },
      Some(s"""WITH $dsirSqlPrelude,
              |dsw AS (SELECT doc_id, lang, source,
              |  GREATEST(CAST(1 AS BIGINT), llr_bits + $DSIR_SHIFT) AS w FROM dsirper),
              |dstot AS (SELECT source, CAST(SUM(w) AS BIGINT) AS sw
              |  FROM dsw GROUP BY 1),
              |dsoff AS (SELECT source, CAST(COALESCE(SUM(sw) OVER (ORDER BY source
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
              |  FROM dstot),
              |dst AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM dsw),
              |dscum AS (SELECT w.doc_id, w.lang, w.source, w.w,
              |    o.off + CAST(SUM(w.w) OVER (PARTITION BY w.source
              |      ORDER BY w.doc_id) AS BIGINT) AS cum
              |  FROM dsw w JOIN dsoff o USING (source))
              |SELECT doc_id, lang, source, w,
              |  (cum * $DSIR_SAMPLE_K) // t - ((cum - w) * $DSIR_SAMPLE_K) // t
              |    AS n_copies
              |FROM dscum CROSS JOIN dst
              |WHERE (cum * $DSIR_SAMPLE_K) // t
              |    - ((cum - w) * $DSIR_SAMPLE_K) // t >= 1
              |ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // The resampling report DSIR feeds a mixing stage: per (lang,
      // source), how many docs pass the τ cut and the total llr mass —
      // the audit that shows WHERE the target-like data lives. Honest
      // note: on this shared-vocab corpus the small target sample is not
      // lang-discriminative (τ=200 keeps ~80% of every lang at sf0.01);
      // the op pins the selection algebra, and the weights query's
      // per-doc spread shows the signal it ranks by.
      "pipeline_dsir_select",
      (s, dir) => dsirScores(Tables.documents(s, dir))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("llr_bits") * 1000 >= lit(DSIR_TAU_MILLI) * col("n_tokens"), 1L)
            .otherwise(0L)).as("n_selected"),
          sum(col("llr_bits")).as("sum_llr_bits"))
        .orderBy("lang", "source"),
      Some(s"""WITH $dsirSqlPrelude
              |SELECT lang, source, $countStarSql AS n_docs,
              |  CAST(SUM(CASE WHEN llr_bits * 1000 >= $DSIR_TAU_MILLI * n_tokens
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
              |  CAST(SUM(llr_bits) AS BIGINT) AS sum_llr_bits
              |FROM dsirper GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    GQuery(
      // Canonical text normalization (the step before any dedup/fingerprint
      // in a curation pipeline): lowercase, strip non-alphanumerics, collapse
      // runs of spaces, trim — plus the md5 of the canonical form.
      "text_normalize",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            trim(regexp_replace(
              regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
              .as("norm_text"))
          .select(col("doc_id"), col("norm_text"), md5(col("norm_text")).as("norm_md5"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, norm_text, md5(norm_text) AS norm_md5 FROM (
             |  SELECT doc_id, trim(regexp_replace(
             |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
             |  FROM documents) t ORDER BY doc_id""".stripMargin)
    ),

    GQuery(
      // The full curation pass as ONE declarative plan: quality filter
      // (length + stopword floor) → exact dedup on content hash (keep lowest
      // doc_id) → survivors. At fleet scale this is a filtered scan, one
      // hash shuffle on the content digest, and a semi join back — no pass
      // touches the corpus twice.
      "pipeline_curate",
      (s, dir) => {
        val en = markerArr(langMarkers.head._2)
        val base = Tables.documents(s, dir).select(
          col("doc_id"), col("lang"), col("text"),
          expr(s"size($toksCol)").cast("long").as("n_tokens"),
          expr(s"size(filter($toksCol, t -> array_contains(array($en), t)))")
            .cast("long").as("n_stop"))
        val quality = base.filter(col("n_tokens") >= 30 && col("n_stop") >= 1)
        val keep = quality.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        quality.join(keep, Seq("doc_id"), "left_semi")
          .select("doc_id", "lang", "n_tokens")
          .orderBy("doc_id")
      },
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""WITH base AS (SELECT doc_id, lang, text,
           |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter($toksSql, t -> list_contains([$en], t))) AS BIGINT) AS n_stop
           |  FROM documents),
           |quality AS (SELECT * FROM base WHERE n_tokens >= 30 AND n_stop >= 1),
           |keep AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text))
           |SELECT doc_id, lang, n_tokens FROM quality
           |WHERE doc_id IN (SELECT doc_id FROM keep)
           |ORDER BY doc_id""".stripMargin
      }
    ),

    GQuery(
      // pipeline_curate with the model-based filter composed in: the
      // heuristic gates (length + stopword floor), exact dedup, AND the
      // unigram-LM surprisal cut (counts trained on the full corpus, the
      // text_surprisal derivation verbatim) — the filter chain a production
      // curation pass actually runs. One extra shuffle join on token vs
      // plain pipeline_curate; the survivors carry their score for audit.
      "pipeline_curate_lm",
      (s, dir) => {
        val en = markerArr(langMarkers.head._2)
        val base = Tables.documents(s, dir).select(
          col("doc_id"), col("lang"), col("text"),
          expr(s"size($toksCol)").cast("long").as("n_tokens"),
          expr(s"size(filter($toksCol, t -> array_contains(array($en), t)))")
            .cast("long").as("n_stop"))
        val quality = base.filter(col("n_tokens") >= 30 && col("n_stop") >= 1)
        val keep = quality.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(expr(toksCol)).as("token"))
        val counts = toks.groupBy("token").agg(count(lit(1)).as("tf"))
        val total = counts.agg(sum(col("tf")).as("total"))
        val lm = toks.join(counts, "token")
          .crossJoin(broadcast(total)) // 1-row bound
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nt"),
            sum(expr("CAST(length(bin(total)) - length(bin(tf)) AS BIGINT)")).as("sb"))
          .select(col("doc_id"), expr("sb * 1000 div nt").as("milli_bits_per_token"))
        quality.join(keep, Seq("doc_id"), "left_semi")
          .join(lm, "doc_id")
          .filter(col("milli_bits_per_token") <= SURPRISAL_MAX_MILLI)
          .select("doc_id", "lang", "n_tokens", "milli_bits_per_token")
          .orderBy("doc_id")
      },
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""WITH base AS (SELECT doc_id, lang, text,
           |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter($toksSql, t -> list_contains([$en], t))) AS BIGINT) AS n_stop
           |  FROM documents),
           |quality AS (SELECT * FROM base WHERE n_tokens >= 30 AND n_stop >= 1),
           |keep AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
           |toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
           |counts AS (SELECT token, $countStarSql AS tf FROM toks GROUP BY token),
           |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM counts),
           |lm AS (SELECT doc_id,
           |  (CAST(SUM(length(bin(total)) - length(bin(tf))) AS BIGINT) * 1000)
           |    // $countStarSql AS milli_bits_per_token
           |  FROM toks JOIN counts USING (token) CROSS JOIN tot GROUP BY doc_id)
           |SELECT q.doc_id, lang, n_tokens, milli_bits_per_token
           |FROM quality q JOIN lm ON q.doc_id = lm.doc_id
           |WHERE q.doc_id IN (SELECT doc_id FROM keep)
           |  AND milli_bits_per_token <= $SURPRISAL_MAX_MILLI
           |ORDER BY q.doc_id""".stripMargin
      }
    ),

    GQuery(
      // pipeline_curate with the SUPERVISED model gate composed in (the
      // alternative to pipeline_curate_lm's surprisal cut): quality floor →
      // exact dedup → keep docs whose naive-Bayes predicted label AGREES
      // with their metadata lang — the label-consistency filter a fastText
      // classifier runs in real curation stacks (drop docs whose content
      // doesn't look like what their metadata claims). Survivors carry the
      // prediction margin for audit. On this structureless corpus the
      // classifier predicts the prior, so the gate keeps (quality-passing,
      // deduped) 'en' docs — deterministic either way; the gate semantics,
      // not this corpus's accuracy, are what the oracle pins.
      "pipeline_curate_nb",
      (s, dir) => {
        val en = markerArr(langMarkers.head._2)
        val base = Tables.documents(s, dir).select(
          col("doc_id"), col("lang"), col("text"),
          expr(s"size($toksCol)").cast("long").as("n_tokens"),
          expr(s"size(filter($toksCol, t -> array_contains(array($en), t)))")
            .cast("long").as("n_stop"))
        val quality = base.filter(col("n_tokens") >= 30 && col("n_stop") >= 1)
        val keep = quality.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val nb = nbClassify(Tables.documents(s, dir))
          .filter(col("correct"))
          .select("doc_id", "pred_label", "margin_bits")
        quality.join(keep, Seq("doc_id"), "left_semi")
          .join(nb, "doc_id")
          .select("doc_id", "lang", "n_tokens", "margin_bits")
          .orderBy("doc_id")
      },
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""WITH base AS (SELECT doc_id, lang, text,
           |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter($toksSql, t -> list_contains([$en], t))) AS BIGINT) AS n_stop
           |  FROM documents),
           |quality AS (SELECT * FROM base WHERE n_tokens >= 30 AND n_stop >= 1),
           |keep AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
           |$nbSqlPrelude,
           |$nbRankedSql
           |SELECT q.doc_id, q.lang, q.n_tokens,
           |  CAST(r.second - r.bits AS BIGINT) AS margin_bits
           |FROM quality q JOIN ranked r ON q.doc_id = r.doc_id
           |WHERE rn = 1 AND r.label = q.lang
           |  AND q.doc_id IN (SELECT doc_id FROM keep)
           |ORDER BY q.doc_id""".stripMargin
      }
    ),

    // ---- benchmark decontamination: shared word 8-grams ----------------------
    // The standard training-data hygiene pass: find training docs whose text
    // overlaps an evaluation/benchmark set by at least one word 8-gram (the
    // n-gram-containment rule used by most published decontamination
    // pipelines). The "benchmark" here is a deterministic slice of the
    // corpus (doc_id % 10 == 0) standing in for an external eval set.
    // Scale shape: the benchmark side is SMALL by definition — its distinct
    // 8-gram digests broadcast; the corpus side is one tokenize + explode
    // map pass into a broadcast hash join, so the corpus is never shuffled.
    // Grams join on md5 digests (fixed 32-char keys, not raw 8-gram text).
    GQuery(
      "pipeline_decontaminate",
      (s, dir) => {
        def grams(df: org.apache.spark.sql.DataFrame) = gram8Rows(df)
        val docs = Tables.documents(s, dir)
        val bench = broadcast(
          grams(docs.filter(col("doc_id") % 10 === 0))
            .select(col("doc_id").as("bench_doc_id"), col("g")).distinct())
        grams(docs.filter(col("doc_id") % 10 =!= 0))
          .distinct()
          .join(bench, "g")
          .groupBy(col("doc_id").as("train_doc_id"), col("bench_doc_id"))
          .agg(count(lit(1)).as("n_shared_8grams"))
          .orderBy("train_doc_id", "bench_doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |  range(1, len(toks) - 6),
             |  i -> md5(array_to_string(toks[i:i+7], ' '))))) AS g FROM toks),
             |bench AS (SELECT DISTINCT doc_id AS bench_doc_id, g FROM grams WHERE doc_id % 10 = 0),
             |train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0)
             |SELECT train.doc_id AS train_doc_id, bench_doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_shared_8grams
             |FROM train JOIN bench ON train.g = bench.g
             |GROUP BY train.doc_id, bench_doc_id
             |ORDER BY train_doc_id, bench_doc_id""".stripMargin)
    ),

    // ---- the curation pipeline END-TO-END: one auditable ledger -------------
    // The composition every training-data pipeline actually runs, as ONE
    // query with per-document attribution: eval slice set aside (doc_id %
    // 10 = 0, the standing decontamination benchmark), Gopher rule battery
    // (quality), exact dedup among the survivors (keep min doc_id per
    // md5(text) — dedup AFTER quality so a high-quality copy is never
    // sacrificed for a failing twin), 8-gram decontamination among the
    // representatives — every document gets exactly one verdict naming
    // the FIRST stage that claimed it ('eval_set' / 'gopher' /
    // 'exact_dup' / 'contaminated' / 'kept'), so corpus composition is
    // auditable per stage instead of a black-box survivor count. Scale:
    // the stages compose their registered shapes — gopher is map-only,
    // dedup is one digest shuffle, decontamination broadcasts the eval
    // grams — so payloads shuffle exactly once (the dedup digest) and the
    // verdict assembly is broadcast-joined flags over doc ids.
    GQuery(
      "pipeline_curate_ledger",
      (s, dir) => {
        def grams(df: org.apache.spark.sql.DataFrame) = gram8Rows(df)
        val docs = Tables.documents(s, dir)
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        val rules = gopherRulesOf(train).select(col("doc_id"), col("pass"))
        val tdocs = train.select("doc_id", "text").join(rules, "doc_id")
        val reps = tdocs.filter(col("pass"))
          .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), lit(true).as("is_rep"))
        val bgr = broadcast(
          grams(docs.filter(col("doc_id") % 10 === 0)).select("g").distinct())
        val contam = grams(
            tdocs.join(reps, Seq("doc_id"), "left_semi").select("doc_id", "text"))
          .join(bgr, "g").select("doc_id").distinct()
          .withColumn("is_contam", lit(true))
        // reps/contam are O(corpus) per-doc flag frames — plain doc_id
        // equi-joins (never broadcast-hinted: at fleet scale forcing them
        // driver-side would OOM; only the eval-gram set above is
        // legitimately broadcast-sized)
        docs.select("doc_id")
          .join(rules, Seq("doc_id"), "left")
          .join(reps, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 0, "eval_set")
              .when(!col("pass"), "gopher")
              .when(col("is_rep").isNull, "exact_dup")
              .when(col("is_contam").isNotNull, "contaminated")
              .otherwise("kept").as("verdict"))
          .orderBy("doc_id")
      },
      Some {
        val en = markerArr(langMarkers.head._2)
        s"""WITH cg AS (SELECT doc_id,
           |    CAST(len($toksSql) AS BIGINT) AS n,
           |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS ch,
           |    CAST(len(list_filter($toksSql, t -> list_contains([$en], t))) AS BIGINT) AS nstop,
           |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS ndis,
           |    CAST(list_max(list_transform(list_distinct($toksSql),
           |      w -> len(list_filter($toksSql, t -> t = w)))) AS BIGINT) AS maxtf
           |  FROM documents WHERE doc_id % 10 <> 0),
           |cr AS (SELECT doc_id,
           |    (n BETWEEN 30 AND 100000) AND (3 * n <= ch AND ch <= 10 * n)
           |      AND nstop >= 2 AND 5 * maxtf <= n AND 10 * ndis >= 3 * n AS pass
           |  FROM cg),
           |creps AS (SELECT MIN(d.doc_id) AS doc_id
           |  FROM documents d JOIN cr USING (doc_id) WHERE cr.pass
           |  GROUP BY md5(d.text)),
           |ctoks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |cgrams AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(toks) - 6),
           |    i -> md5(array_to_string(toks[i:i+7], ' '))))) AS g8 FROM ctoks),
           |cbgr AS (SELECT DISTINCT g8 FROM cgrams WHERE doc_id % 10 = 0),
           |ccontam AS (SELECT DISTINCT cgrams.doc_id
           |  FROM cgrams JOIN cbgr USING (g8)
           |  WHERE cgrams.doc_id IN (SELECT doc_id FROM creps))
           |SELECT d.doc_id,
           |  CASE WHEN d.doc_id % 10 = 0 THEN 'eval_set'
           |    WHEN NOT cr.pass THEN 'gopher'
           |    WHEN d.doc_id NOT IN (SELECT doc_id FROM creps) THEN 'exact_dup'
           |    WHEN d.doc_id IN (SELECT doc_id FROM ccontam) THEN 'contaminated'
           |    ELSE 'kept' END AS verdict
           |FROM documents d LEFT JOIN cr ON d.doc_id = cr.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }
    ),

    // ---- Bloom-filter decontamination: the constant-size broadcast path -----
    // pipeline_decontaminate broadcasts the bench side's DISTINCT 8-gram
    // digests — fine while the eval suite is small, but a digest set grows
    // with the bench corpus (32 bytes/gram). The production-scale variant
    // broadcasts a FIXED-SIZE Bloom bitset instead: each bench gram sets
    // k=2 positions in a 2^16-bit array; a training gram is flagged iff
    // BOTH its positions are set. False positives are the price — and this
    // query MEASURES them instead of hand-waving: every Bloom-flagged doc
    // carries its exact-join hit count, so n_exact_grams = 0 rows ARE the
    // false positives, quantified per doc against the exact witness.
    // Relational form: the bitset's set positions are two tiny int tables
    // (≤ 2^16 rows each — bounded by geometry, NOT by bench size, the
    // whole point) fed to broadcast semi-joins; the corpus side stays one
    // tokenize+map pass, never shuffled until the per-doc count. A native
    // deployment would collect the positions into a real bitmap broadcast
    // variable; the plan shape — O(1) broadcast, map-side membership —
    // is identical here and stays oracle-expressible.
    GQuery(
      "pipeline_decontaminate_bloom",
      (s, dir) => {
        def grams(df: org.apache.spark.sql.DataFrame) = gram8Rows(df)
        def posExpr(j: Int) =
          s"CAST(conv(substr(md5(concat('bf$j:', g)), 1, 8), 16, 10) AS BIGINT) % $BLOOM_BITS"
        val docs = Tables.documents(s, dir)
        val bench = Materialize(
          grams(docs.filter(col("doc_id") % 10 === 0)).select("g").distinct())
        val pos = (0 to 1).map(j => broadcast(
          bench.select(expr(posExpr(j)).as(s"p$j")).distinct()))
        val train = grams(docs.filter(col("doc_id") % 10 =!= 0)).distinct()
        val perDoc = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        val flagged = train
          .withColumn("p0", expr(posExpr(0))).withColumn("p1", expr(posExpr(1)))
          .join(pos(0), Seq("p0"), "left_semi")
          .join(pos(1), Seq("p1"), "left_semi")
        val nBloom = flagged.groupBy("doc_id").agg(count(lit(1)).as("n_bloom_grams"))
        val nExact = train.join(bench, Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_exact_grams"))
        perDoc.join(nBloom, "doc_id")
          .join(nExact, Seq("doc_id"), "left")
          .select(col("doc_id").as("train_doc_id"), col("n_grams"),
            col("n_bloom_grams"), coalesce(col("n_exact_grams"), lit(0L)).as("n_exact_grams"))
          .withColumn("is_false_positive", col("n_exact_grams") === 0)
          .orderBy("train_doc_id")
      },
      Some {
        def posSql(j: Int) =
          s"CAST(concat('0x', substr(md5(concat('bf$j:', g)), 1, 8)) AS BIGINT) % $BLOOM_BITS"
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |  range(1, len(toks) - 6),
           |  i -> md5(array_to_string(toks[i:i+7], ' '))))) AS g FROM toks),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
           |pos0 AS (SELECT DISTINCT ${posSql(0)} AS p FROM bench),
           |pos1 AS (SELECT DISTINCT ${posSql(1)} AS p FROM bench),
           |train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0),
           |perDoc AS (SELECT doc_id, $countStarSql AS n_grams FROM train GROUP BY doc_id),
           |bloom AS (SELECT doc_id, $countStarSql AS n_bloom_grams FROM train
           |  WHERE ${posSql(0)} IN (SELECT p FROM pos0)
           |    AND ${posSql(1)} IN (SELECT p FROM pos1)
           |  GROUP BY doc_id),
           |exact AS (SELECT doc_id, $countStarSql AS n_exact_grams FROM train
           |  WHERE g IN (SELECT g FROM bench) GROUP BY doc_id)
           |SELECT p.doc_id AS train_doc_id, n_grams, n_bloom_grams,
           |  COALESCE(n_exact_grams, 0) AS n_exact_grams,
           |  COALESCE(n_exact_grams, 0) = 0 AS is_false_positive
           |FROM perDoc p JOIN bloom USING (doc_id)
           |LEFT JOIN exact USING (doc_id)
           |ORDER BY train_doc_id""".stripMargin
      }
    ),

    // ---- balanced dataset mixing: downsample to the smallest stratum ---------
    // Domain/language rebalancing, the deterministic way: rank each doc
    // within its language by md5(doc_id) (a stable pseudo-random order both
    // engines reproduce) and keep the first min-stratum-count docs per
    // language — every language ends up with exactly the same number of
    // docs. One window shuffle by lang + a broadcast of the 1-row min
    // count; no data-dependent randomness, so re-runs and the oracle agree
    // exactly. (Rate-based mixes are the same shape with a per-stratum
    // threshold instead of the global min.)
    GQuery(
      "pipeline_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            md5(col("doc_id").cast("string")).as("r"))
        val minN = broadcast(
          d.groupBy("lang").agg(count(lit(1)).as("n"))
            .agg(min(col("n")).as("min_n")))
        val w = Window.partitionBy("lang").orderBy("r", "doc_id")
        d.withColumn("rk", row_number().over(w).cast("long"))
          .crossJoin(minN) // 1-row broadcast
          .filter(col("rk") <= col("min_n"))
          .select(col("lang"), col("doc_id"), col("rk"))
          .orderBy("lang", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS r FROM documents),
             |m AS (SELECT MIN(n) AS min_n FROM
             |  (SELECT COUNT(*) AS n FROM d GROUP BY lang)),
             |rk AS (SELECT doc_id, lang,
             |  CAST(row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS BIGINT) AS rk
             |  FROM d)
             |SELECT lang, doc_id, rk FROM rk, m WHERE rk <= min_n
             |ORDER BY lang, doc_id""".stripMargin)
    ),

    // ---- RAG chunking: overlapping token windows -----------------------------
    // The pre-embedding step of every retrieval pipeline: split each doc
    // into fixed-size token windows (16) at a fixed stride (8), so
    // consecutive chunks overlap by half — boundary-crossing phrases appear
    // intact in at least one chunk (the standard RAG trade: the corpus
    // duplicates by window/stride = 2x, paid to never cut a span in half).
    // A short doc yields its single partial chunk; the tail chunk may be
    // short. Map-only: one explode per doc, no shuffle until the output
    // sort; chunk ids are (doc_id, position) — deterministic and stable
    // under reruns, so downstream embeddings/dedup key on them safely.
    // Composes directly: chunks feed dedup_exact (fingerprint), the ANN
    // suite (embed per chunk), and search indexing unchanged.
    GQuery(
      "pipeline_chunk",
      (s, dir) => {
        val W = 16; val S = 8
        Tables.documents(s, dir)
          .select(col("doc_id"), expr(toksCol).as("ts"))
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(0, (size(ts) - 1) div $S), " +
              s"i -> named_struct('cid', CAST(i AS BIGINT), " +
              s"'chunk', slice(ts, i * $S + 1, $W)))")).as("c"))
          .select(col("doc_id"), col("c.cid").as("chunk_id"),
            size(col("c.chunk")).cast("long").as("n_tokens"),
            array_join(col("c.chunk"), " ").as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
              |ch AS (SELECT doc_id, unnest(list_transform(
              |    range(0, (len(ts) - 1) // 8 + 1), i -> struct_pack(
              |      cid := CAST(i AS BIGINT),
              |      chunk := ts[(i * 8 + 1):(i * 8 + 16)]))) AS c
              |  FROM toks)
              |SELECT doc_id, c.cid AS chunk_id,
              |  CAST(len(c.chunk) AS BIGINT) AS n_tokens,
              |  array_to_string(c.chunk, ' ') AS chunk_text
              |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)
    ),

    // ---- token-budget batch packing ------------------------------------------
    // Sequence-packing for training: docs in a fixed order (doc_id) are
    // packed per language into consecutive batches of ~2000 tokens — batch
    // index = floor(tokens-before-this-doc / budget), the standard
    // prefix-sum formulation (a doc overflowing a boundary starts the next
    // batch; no doc is split). Entirely one window shuffle by lang + the
    // per-batch re-aggregate; deterministic, so rerun- and oracle-stable.
    // At fleet scale the order key would be a pre-assigned shard/sequence
    // id — the plan shape (window prefix-sum, no driver loop) is the point.
    GQuery(
      "pipeline_pack_batches",
      (s, dir) => {
        val budget = 2000L
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        toks
          .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("batch_id", (col("tok_before") / budget).cast("long"))
          .groupBy(col("lang"), col("batch_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("batch_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("lang", "batch_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
             |c AS (SELECT doc_id, lang, n_tok,
             |  COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
             |  FROM t)
             |SELECT lang, CAST(tok_before AS BIGINT) // 2000 AS batch_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM c GROUP BY lang, batch_id ORDER BY lang, batch_id""".stripMargin)
    ),

    // ---- repetition signals (Gopher-style quality filter inputs) -------------
    // The repetition family of quality heuristics (duplicate-word fraction,
    // top-word dominance, duplicate-bigram count) every curation pipeline
    // computes before training — repetitive boilerplate is the #1 junk
    // class n-gram dedup misses. ALL metrics are exact integer arithmetic
    // (counts and a ×10000 integer-division ratio — no float can drift
    // between engines). Two shuffles, both keyed on doc_id with map-side
    // combine; at 100 TB this is the same per-doc-bounded shape as
    // text_token_stats. Single-token docs (possible in edge corpora, not
    // the driver data) have no bigrams: guarded empty array, LEFT join,
    // zero-coalesce — not a crash and not a dropped doc.
    GQuery(
      "text_repetition",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val words = t.select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum(col("c")).as("n_words"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("top_word_n"))
        val grams = t.select(col("doc_id"), explode(expr(
            """CASE WHEN size(toks) >= 2
              |THEN transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))
              |ELSE array() END""".stripMargin)).as("g2"))
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_bigrams"),
            countDistinct(col("g2")).as("d_bigrams"))
        words.join(grams, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_word_n"),
            expr("(n_words - n_distinct) * 10000 div n_words").as("dup_word_permyriad"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("n_bigrams") - col("d_bigrams"), lit(0L)).as("dup_bigram_n"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |wc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
             |words AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_word_n
             |  FROM wc GROUP BY doc_id),
             |ge AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |  i -> toks[i] || ' ' || toks[i+1])) AS g2 FROM t),
             |grams AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(COUNT(DISTINCT g2) AS BIGINT) AS d_bigrams FROM ge GROUP BY doc_id)
             |SELECT words.doc_id, n_words, n_distinct, top_word_n,
             |  CAST((n_words - n_distinct) * 10000 // n_words AS BIGINT) AS dup_word_permyriad,
             |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  CAST(COALESCE(n_bigrams - d_bigrams, 0) AS BIGINT) AS dup_bigram_n
             |FROM words LEFT JOIN grams ON words.doc_id = grams.doc_id
             |ORDER BY words.doc_id""".stripMargin)
    ),

    // ---- temperature-based language sampling weights -------------------------
    // The multilingual rebalancing step (α = 0.5 temperature upsampling):
    // each language's sampling mass ∝ n_docs^α, normalized. α = 1/2 is the
    // deliberate choice here because IEEE sqrt is CORRECTLY ROUNDED — both
    // engines produce the bit-identical double, which is then snapped to an
    // integer ×10⁶ grid before the normalizing division happens in exact
    // BIGINT arithmetic (a pow(n, 0.73)-style α would be libm-dependent and
    // could hash-diverge). Scale: one tiny aggregate (per-language counts)
    // + a 1-row broadcast for the total — nothing touches the corpus twice.
    GQuery(
      "pipeline_sample_weights",
      (s, dir) => {
        val n = Tables.documents(s, dir)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val w = n.select(col("lang"), col("n_docs"),
          expr("CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)").as("w"))
        val tot = broadcast(w.agg(sum(col("w")).as("tot")))
        w.crossJoin(tot) // 1-row broadcast
          .select(col("lang"), col("n_docs"), col("w"),
            expr("w * 1000000 div tot").as("p_ppm"))
          .orderBy("lang")
      },
      Some("""WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang),
             |w AS (SELECT lang, n_docs,
             |  CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM n),
             |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM w)
             |SELECT lang, n_docs, w, w * 1000000 // tot AS p_ppm
             |FROM w, t ORDER BY lang""".stripMargin)
    ),

    // ---- deterministic stratified train/val/test split -----------------------
    // The 80/10/10 split every training run starts from, done the only way
    // that survives reruns and topology changes: assignment is a PURE
    // FUNCTION of the stable doc_id (md5 prefix mod 100 — the q_sample_hash
    // discipline), never Spark sample()/rand(). The same doc lands in the
    // same split on any cluster, any partitioning, any rerun — which is
    // what makes the split auditable and the val set leak-proof against
    // re-shuffles. Reported per lang × split so stratification is checkable
    // (hash assignment is lang-independent ⇒ each language splits ~80/10/10
    // without per-stratum bookkeeping). Map-only + one tiny aggregate.
    GQuery(
      "pipeline_split",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"),
            expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100")
              .as("bucket"))
          .select(col("lang"),
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test").as("split"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split"),
      Some("""SELECT lang,
             |  CASE WHEN bucket < 80 THEN 'train'
             |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM (SELECT lang,
             |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
             |  FROM documents)
             |GROUP BY lang, split ORDER BY lang, split""".stripMargin)
    ),

    // ---- PII redaction -------------------------------------------------------
    // The scrub every public curation pipeline (C4/RefinedWeb-style) runs
    // before training: emails, NANP phone numbers, and IPv4 addresses are
    // replaced with typed placeholder tokens, and per-doc REPLACEMENT counts
    // (each pattern counted on the text as it stands at its stage of the
    // replace chain) are reported so the redaction rate is auditable. Pure per-row projection —
    // map-only, embarrassingly parallel, no shuffle except the output sort a
    // real pipeline wouldn't carry. The synthetic corpus contains no digits,
    // so PII tokens are first embedded DETERMINISTICALLY from doc_id
    // (identical expression in the oracle) — the regexes are thereby
    // exercised against real matches, including docs carrying 2–3 PII kinds
    // at once, not vacuously against a corpus with zero hits.
    // Regex subset chosen to mean the same thing in Java (Spark) and RE2
    // (DuckDB): character classes, bounded repetition, \b, non-capturing
    // groups. DuckDB's regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics.
    GQuery(
      "pipeline_redact_pii",
      (s, dir) => {
        val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
        val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val raw = Tables.documents(s, dir).select(
          col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 415-555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")))
            .as("raw"))
        // each count runs against the text AS IT EXISTS at that stage of the
        // sequential replace chain (email → phone → IP), so every count is
        // the number of replacements actually performed — a dotted-quad
        // inside an already-redacted email can no longer be counted as an
        // IP that was never replaced. Catalyst's subexpression elimination
        // evaluates each stage once despite the textual repetition.
        val afterEmail = regexp_replace(col("raw"), emailPat, "<EMAIL>")
        val afterPhone = regexp_replace(afterEmail, phonePat, "<PHONE>")
        raw.select(
            col("doc_id"),
            regexp_replace(afterPhone, ipPat, "<IP>").as("redacted"),
            // column-function form, NOT expr(s"…'$pat'…"): the SQL parser
            // would unescape \. and \d inside the interpolated literal
            size(regexp_extract_all(col("raw"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
            size(regexp_extract_all(afterEmail, lit(phonePat), lit(0))).cast("long").as("n_phones"),
            size(regexp_extract_all(afterPhone, lit(ipPat), lit(0))).cast("long").as("n_ips"))
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (SELECT doc_id, text
             |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
             |  || CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             |  || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
             |  AS raw FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
             |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(
             |    regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
             |  CAST(len(regexp_extract_all(
             |    regexp_replace(regexp_replace(raw,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
             |FROM raw ORDER BY doc_id""".stripMargin)
    ),

    // ---- source overlap matrix (which crawls cover the same content?) -------
    // The curation audit run before mixing corpora: pairwise shingle-
    // vocabulary overlap between sources — high overlap means two "sources"
    // are re-crawls/mirrors and mixing them double-counts content. Shape:
    // distinct (shingle-digest, source) presence (one shuffle on the
    // digest), then a digest equi-self-join whose per-digest candidate list
    // is bounded by the SOURCE COUNT (presence rows are distinct), never by
    // raw term frequency — so the pair space is ≤ sources²/2 per digest no
    // matter how common the shingle, and the output is one row per source
    // pair. Jaccard is exact integer arithmetic (permyriad div).
    GQuery(
      "pipeline_source_overlap",
      (s, dir) => {
        val ex = Tables.documents(s, dir)
          .filter(size(split(col("text"), " ")) >= 3)
          .select(col("source"), split(col("text"), " ").as("toks"))
          .select(col("source"), explode(expr(
            "array_distinct(transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))")).as("g"))
          .select(col("source"), md5(col("g")).as("h"))
        // [r22 opt, guide §2.3/§2.4] ONE aggregation pass instead of a digest
        // self-join: the old plan derived the exploded digest table THREE
        // times from the raw scan (distinct + both join sides — the scan is
        // single-task on the driver's one-row-group file, so each re-derive
        // serialized ~2.5 s of tokenize+md5) and shuffled it twice (distinct,
        // join). Now: group by digest with a map-side-partial collect_set of
        // sources (the per-digest set is bounded by the SOURCE COUNT — the
        // same bound the old per-digest candidate list had), then explode
        // each set into its singleton and ordered-pair cells and count them
        // in one tiny aggregate — n_shared(a,b) = #digests whose set holds
        // both, n(a) = #digests whose set holds a: exactly the old counts.
        // sort_array gives the same a < b string order the old join predicate
        // used. One exchange carries the corpus digests; everything after is
        // ≤ sources² rows.
        val present = ex.groupBy("h")
          .agg(sort_array(collect_set(col("source"))).as("ss"))
        val cells = Materialize(present
          .select(explode(expr(
            """concat(
              |  transform(ss, sa -> named_struct('sa', sa, 'sb', CAST(NULL AS STRING))),
              |  flatten(transform(ss, (sa, i) ->
              |    transform(slice(ss, i + 2, size(ss)),
              |      sb -> named_struct('sa', sa, 'sb', sb)))))""".stripMargin)).as("c"))
          .groupBy(col("c.sa").as("sa"), col("c.sb").as("sb"))
          .agg(count(lit(1)).as("cnt")))
        val sz = cells.filter(col("sb").isNull)
          .select(col("sa").as("source"), col("cnt").as("n"))
        cells.filter(col("sb").isNotNull)
          .select(col("sa").as("source_a"), col("sb").as("source_b"),
            col("cnt").as("n_shared"))
          .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
          .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
          .select(col("source_a"), col("source_b"), col("n_shared"),
            expr("n_shared * 10000 div (na + nb - n_shared)").as("jac_permyriad"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH t0 AS (SELECT source, string_split(text, ' ') AS toks FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3),
             |sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
             |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g FROM t0),
             |ex AS (SELECT DISTINCT source, md5(g) AS h FROM sh),
             |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY source),
             |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
             |    CAST(COUNT(*) AS BIGINT) AS n_shared
             |  FROM ex a JOIN ex b ON a.h = b.h AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, n_shared,
             |  n_shared * 10000 // (sza.n + szb.n - n_shared) AS jac_permyriad
             |FROM pairs JOIN sz sza ON source_a = sza.source
             |JOIN sz szb ON source_b = szb.source
             |ORDER BY source_a, source_b""".stripMargin)
    ),

    // ---- per-source corpus profile -------------------------------------------
    // The per-provenance report a curation run keeps alongside the mix:
    // volume, language spread, exact-duplicate burden per source. Two
    // aggregates (per (source, text-digest), then per source) joined to the
    // base stats on the tiny source key — everything exact integers.
    // ---- count-min-sketch heavy hitters -------------------------------------
    // The fixed-memory frequency sketch (Cormode & Muthukrishnan): d=4 hash
    // rows × w=64 buckets of counters — 256 cells TOTAL regardless of corpus
    // size, and merging shard sketches is cell-wise addition (the agg_merge
    // property), so at 100 TB each partition sketches locally and one tiny
    // reduce combines them. Estimates are upper bounds (collisions only ever
    // inflate); the exact tf is carried beside the estimate as the in-row
    // witness of the overestimate. Candidates here are the distinct tokens
    // (vocabulary is small); a fleet deployment feeds per-partition top-k
    // candidates (TopKAgg) instead of a full vocabulary scan. Bucket hashes
    // are md5-derived on both engines, so the sketch — and therefore every
    // estimate — is bit-identical cross-engine.
    GQuery(
      "text_heavy_hitters_cms",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cand = docs.select(explode(expr(toksCol)).as("token"))
          .groupBy("token").agg(count(lit(1)).as("tf"))
        val sketch = cmsSketchOf(docs)
        cand.select(col("token"), col("tf"), explode(cmsRowIds).as("i"))
          .withColumn("bucket", expr(cmsBucketExpr))
          .join(broadcast(sketch), Seq("i", "bucket"))
          .groupBy("token", "tf").agg(min(col("cnt")).as("est"))
          .orderBy(col("est").desc, col("token"))
          .limit(10)
          .select("token", "est", "tf")
      },
      Some(s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents),
              |rows0 AS (SELECT unnest(range(0, 4)) AS i),
              |cand AS (SELECT token, $countStarSql AS tf FROM toks GROUP BY token),
              |cells AS (SELECT i,
              |    ${md5IntSql("concat(CAST(i AS VARCHAR), ':', token)")} % 64 AS bucket, tf
              |  FROM cand CROSS JOIN rows0),
              |sketch AS (SELECT i, bucket, CAST(SUM(tf) AS BIGINT) AS cnt
              |  FROM cells GROUP BY i, bucket),
              |probes AS (SELECT token, tf, i,
              |    ${md5IntSql("concat(CAST(i AS VARCHAR), ':', token)")} % 64 AS bucket
              |  FROM cand CROSS JOIN rows0),
              |est AS (SELECT token, tf, MIN(cnt) AS est
              |  FROM probes JOIN sketch USING (i, bucket) GROUP BY token, tf)
              |SELECT token, est, tf FROM est
              |ORDER BY est DESC, token LIMIT 10""".stripMargin)
    ),

    // ---- tokenizer vocabulary coverage (OOV audit) --------------------------
    // The pre-training question "how much of this corpus does the tokenizer
    // actually cover?": derive a vocabulary (global top-16 terms — the cut
    // is deterministic via the (tf DESC, token) order on both engines),
    // then measure per-language token counts, out-of-vocabulary tokens,
    // distinct OOV terms, and the OOV rate (division of identical longs ⇒
    // bit-exact doubles). One token-stream pass + a broadcast vocabulary +
    // one shuffle on lang — at 100 TB the vocab is a real tokenizer's fixed
    // list (broadcast by definition) and the scan parallelizes
    // embarrassingly.
    GQuery(
      "text_oov_rate",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("lang"), explode(expr(toksCol)).as("token"))
        val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token")).limit(16)
          .select(col("token"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_tokens"),
            count(when(col("in_vocab").isNull, 1)).as("n_oov"),
            countDistinct(when(col("in_vocab").isNull, col("token"))).as("n_oov_terms"),
            (count(when(col("in_vocab").isNull, 1)).cast("double") /
              count(lit(1)).cast("double")).as("oov_rate"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (SELECT lang, unnest($toksSql) AS token FROM documents),
              |vocab AS (SELECT token FROM (
              |  SELECT token, $countStarSql AS tf FROM toks GROUP BY token
              |  ORDER BY tf DESC, token LIMIT 16)),
              |j AS (SELECT t.lang, t.token, v.token IS NOT NULL AS in_vocab
              |  FROM toks t LEFT JOIN vocab v ON t.token = v.token)
              |SELECT lang, $countStarSql AS n_tokens,
              |  CAST(COUNT(CASE WHEN NOT in_vocab THEN 1 END) AS BIGINT) AS n_oov,
              |  CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN token END) AS BIGINT) AS n_oov_terms,
              |  CAST(COUNT(CASE WHEN NOT in_vocab THEN 1 END) AS DOUBLE) /
              |    CAST(COUNT(*) AS DOUBLE) AS oov_rate
              |FROM j GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // ---- deterministic weighted interleave (training order) -----------------
    // pipeline_mix decides HOW MANY docs per source and
    // pipeline_sample_weights the sampling RATE — this builds the actual
    // ORDER a trainer consumes: each source's docs are ranked by content
    // hash (rerun-stable), given a virtual position rank·1e6 div w where
    // w = sqrt(source size) in milli-units (the α=0.5 temperature weight;
    // sqrt is IEEE-correctly-rounded so w is bit-exact cross-engine), and
    // the global stream is the merge by (position, source, rank) — bigger
    // sources advance proportionally slower, so the head of the stream
    // interleaves sources at the temperature ratio. Per-source windows
    // shard by source; the final total-order sort is the output contract
    // (a trainer consumes the stream, it does not re-sort it). First 50
    // positions registered.
    GQuery(
      "pipeline_interleave",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        val w = Window.partitionBy("source").orderBy("hk", "doc_id")
        val ranked = d
          .withColumn("hk", md5Int(col("doc_id").cast("string")))
          .withColumn("rk", row_number().over(w).cast("long"))
        val wt = d.groupBy("source").agg(count(lit(1)).as("n"))
          .select(col("source"),
            expr("CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT)").as("w_milli"))
        ranked.join(broadcast(wt), "source")
          .withColumn("vpos", expr("rk * 1000000 div w_milli"))
          .orderBy("vpos", "source", "rk")
          .limit(50)
          .select("vpos", "source", "rk", "doc_id")
      },
      Some(s"""WITH h AS (SELECT doc_id, source,
              |    ${md5IntSql("CAST(doc_id AS VARCHAR)")} AS hk FROM documents),
              |r AS (SELECT doc_id, source, hk,
              |  CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rk
              |  FROM h),
              |wt AS (SELECT source,
              |    CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000) AS BIGINT) AS w_milli
              |  FROM documents GROUP BY source)
              |SELECT rk * 1000000 // w_milli AS vpos, r.source, rk, doc_id
              |FROM r JOIN wt ON r.source = wt.source
              |ORDER BY vpos, r.source, rk LIMIT 50""".stripMargin)
    ),

    GQuery(
      "pipeline_source_stats",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val byText = d.groupBy(col("source"), md5(col("text")).as("h"))
          .agg(count(lit(1)).as("n"))
        val dup = byText.groupBy("source").agg(
          count(lit(1)).as("n_texts"),
          sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"))
        d.groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n_chars")).as("sum_chars"))
          .join(dup, "source")
          .orderBy("source")
      },
      Some("""WITH byText AS (SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1, 2),
             |dup AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_texts,
             |    CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs
             |  FROM byText GROUP BY source),
             |base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |  FROM documents GROUP BY source)
             |SELECT base.source, n_docs, n_langs, sum_chars, n_texts, n_dup_docs
             |FROM base JOIN dup ON base.source = dup.source
             |ORDER BY base.source""".stripMargin)
    ),

    // ---- priority sampling: one-pass weighted sample without replacement ----
    // Priority sampling (Duffield–Lund–Thorup): every item gets priority
    // q_i = w_i / u_i with u_i uniform; the k items with the largest
    // priorities are a weighted sample WITHOUT replacement, and the
    // (k+1)-th priority τ turns it into an unbiased total estimator
    // (Σ max(w_i, τ) over the sample). Here w_i = the doc's token count —
    // token-budget-proportional document sampling, the draw a trainer
    // makes when "sample 1B tokens" matters more than "sample 1M docs".
    // Determinism: u_i is an md5-derived integer in [1, 2^20] and the
    // priority is the EXACT integer floor(w_i·2^40 / u_i) — both engines
    // rank identical BIGINTs, ties broken by doc_id, so the sample set is
    // bit-reproducible (the q_sample_hash discipline applied to weighted
    // sampling). Scale shape: priorities are a map-only projection; the
    // global top-k plans as TakeOrderedAndProject (per-partition heap of
    // k, then k·P rows to one reducer) — no corpus shuffle at any size,
    // which is exactly why priority sampling (and not rejection or
    // stratified resampling) is the 100 TB weighted sampler.
    GQuery(
      "pipeline_sample_priority",
      (s, dir) => {
        priorityOf(Tables.documents(s, dir))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(PRI_K)
          .select("doc_id", "lang", "n_tokens", "priority")
      },
      Some(s"""WITH $priDuckCte
              |SELECT doc_id, lang, n_tokens, priority FROM pri
              |ORDER BY priority DESC, doc_id LIMIT $PRI_K""".stripMargin)
    ),

    // ---- the estimator that makes priority sampling an audit tool -----------
    // τ = the (k+1)-th priority; E[Σ_{i∈S} max(w_i, τ)] = Σ w_i exactly
    // (Duffield et al. 2007) — so a 100-doc sample carries an unbiased
    // estimate of the corpus's total token count, WITHOUT a second corpus
    // pass. All arithmetic stays on integer grids: max(w_i·2^20, τ) summed
    // as BIGINTs (2^20 because a stored priority is a weight times 2^20 —
    // see PRI_W_SCALE), one floor-div back to tokens at the end — the two
    // engines agree bit-for-bit. The exact total rides along for the
    // one-row audit: estimate vs truth on this corpus draw.
    GQuery(
      "pipeline_sample_priority_est",
      (s, dir) => {
        val pri = priorityOf(Tables.documents(s, dir))
          .select("doc_id", "n_tokens", "priority")
        val topk1 = Materialize(
          pri.orderBy(col("priority").desc, col("doc_id")).limit(PRI_K + 1))
        val tau = broadcast(topk1.agg(min(col("priority")).as("tau")))
        val total = broadcast(pri.agg(sum(col("n_tokens")).as("exact_total_tokens")))
        topk1.orderBy(col("priority").desc, col("doc_id")).limit(PRI_K)
          .crossJoin(tau)
          .agg(
            expr(s"sum(greatest(n_tokens * $PRI_W_SCALE, tau)) div $PRI_W_SCALE")
              .as("ht_est_tokens"),
            min(col("tau")).as("tau"),
            count(lit(1)).as("n_sample"))
          .crossJoin(total)
          .select("exact_total_tokens", "ht_est_tokens", "tau", "n_sample")
      },
      Some(s"""WITH $priDuckCte,
              |topk1 AS (SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT ${PRI_K + 1}),
              |tau AS (SELECT MIN(priority) AS tau FROM topk1),
              |samp AS (SELECT * FROM topk1 ORDER BY priority DESC, doc_id LIMIT $PRI_K)
              |SELECT
              |  (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM pri) AS exact_total_tokens,
              |  CAST(SUM(CASE WHEN n_tokens * $PRI_W_SCALE > tau
              |    THEN n_tokens * $PRI_W_SCALE ELSE tau END) // $PRI_W_SCALE AS BIGINT)
              |    AS ht_est_tokens,
              |  tau, $countStarSql AS n_sample
              |FROM samp, tau GROUP BY tau""".stripMargin)
    ),

    // ---- cross-document boilerplate-span removal (corpus REWRITE) -----------
    // The CCNet/RefinedWeb line-dedup step, the one pipeline op in the dedup
    // family that REWRITES documents instead of flagging them: split each
    // doc into non-overlapping 8-token spans (the corpus has no newlines, so
    // fixed token windows stand in for lines), census each span's distinct
    // document frequency, and DROP every span that appears verbatim in >= 2
    // docs — template headers, navigation chrome, license blocks — then
    // reassemble each doc from its surviving spans in order. Differs from
    // dedup_substring (which SCORES doc pairs by shared 8-grams) in both
    // output (a cleaned corpus, not a pair list) and granularity (a doc with
    // one boilerplate span keeps its other 95%). Scale shape: one map-side
    // explode to (doc_id, sid, span-hash), ONE census shuffle on the hash
    // (hashes only — span text rides no further than its own doc's
    // partition), a left-anti semi-structure against the tiny boilerplate
    // set, and one groupBy(doc_id) to reassemble — content-derived uniform
    // keys, no all-pairs stage, payload crosses the wire once. The emitted
    // audit row per doc (span counts + md5 of the rewritten text) keeps the
    // output scalar per the harness convention; a production run would write
    // clean_text itself back to the lake.
    GQuery(
      "pipeline_strip_spans",
      (s, dir) => stripSpans(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
              |sp AS (SELECT doc_id, unnest(list_transform(range(0, (len(ts) - 1) // 8 + 1),
              |    i -> struct_pack(sid := CAST(i AS BIGINT),
              |      span := array_to_string(ts[(i*8+1):(i*8+8)], ' ')))) AS c
              |  FROM toks),
              |s2 AS (SELECT doc_id, c.sid AS sid, c.span AS span, md5(c.span) AS g FROM sp),
              |boiler AS (SELECT g FROM s2 GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
              |kept AS (SELECT * FROM s2 WHERE g NOT IN (SELECT g FROM boiler)),
              |alln AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM s2 GROUP BY doc_id),
              |surv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              |    string_agg(span, ' ' ORDER BY sid) AS clean_text
              |  FROM kept GROUP BY doc_id)
              |SELECT a.doc_id, a.n_spans,
              |  CAST(a.n_spans - COALESCE(s.n_kept, 0) AS BIGINT) AS n_dropped,
              |  CAST(length(COALESCE(s.clean_text, '')) AS BIGINT) AS clean_chars,
              |  md5(COALESCE(s.clean_text, '')) AS clean_md5
              |FROM alln a LEFT JOIN surv s USING (doc_id) ORDER BY doc_id""".stripMargin)
    ),

    // ---- per-document keyword extraction (top TF-IDF terms) -----------------
    // The indexing/labeling primitive: each doc's 3 most characteristic
    // terms by tf · idf, with the IDF in the BM25 suite's EXACT rational
    // form ((2N − 2df + 1)·1e6 // (2df + 1) — no ln(), so no libm
    // last-ulp rank flips between engines) and the score a single integer
    // product. One token census (map-side combined), the df table joined
    // back BROADCAST (|vocab| rows — at 100 TB the vocabulary is still
    // dwarfed by the corpus; a truly open vocab shards the join by term),
    // one per-doc WindowGroupLimit for the top-3. Ties break to the
    // lexicographically first term, so extraction is total-ordered.
    GQuery(
      "text_keywords",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = toks.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
        val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            expr("tf * ((2*n - 2*df + 1) * 1000000 div (2*df + 1))").as("score_micro"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score_micro").desc, col("term"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "score_micro")
          .orderBy("doc_id", "rank")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |  FROM toks GROUP BY 1),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |scored AS (SELECT doc_id, tf.term,
             |    tf * ((2*n - 2*df + 1) * 1000000 // (2*df + 1)) AS score_micro
             |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN nn),
             |ranked AS (SELECT doc_id, term, score_micro,
             |  CAST(row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score_micro DESC, term) AS BIGINT) AS rank
             |  FROM scored)
             |SELECT doc_id, rank, term, score_micro FROM ranked WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin)
    ),

    // ---- end-to-end curation audit: strip → dedup → split -------------------
    // The composed pipeline as one verified entry — the integration proof
    // that the rewrite, dedup, and split stages CHAIN: (1) strip
    // boilerplate spans (pipeline_strip_spans' rewrite); (2) exact-dedup
    // the REWRITTEN corpus on clean_md5, keeping the lowest doc_id —
    // note the composition effect the stages exist for: scrubbing
    // collapses template families onto identical residues (including
    // all-boilerplate docs, which become empty and are dropped as husks),
    // so post-strip dedup catches duplicates raw-text dedup can't; (3)
    // hash-split the survivors 80/10/10 by the pipeline_split bucket
    // discipline. Output: per (lang, split) survivor counts and clean
    // char mass — the numbers a dataset card reports. Each stage's scale
    // shape is its standalone entry's (documented there); the chain adds
    // one broadcast-sized join for lang and no new shuffles beyond its
    // stages.
    GQuery(
      "pipeline_e2e_audit",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clean = stripSpans(docs)
        val wd = Window.partitionBy("clean_md5").orderBy("doc_id")
        val kept = clean
          .filter(col("clean_chars") > 0)
          .withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
        kept
          .join(docs.select("doc_id", "lang"), "doc_id")
          .withColumn("bucket",
            expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 100"))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum(col("clean_chars")).as("clean_chars"))
          .orderBy("lang", "split")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
              |sp AS (SELECT doc_id, unnest(list_transform(range(0, (len(ts) - 1) // 8 + 1),
              |    i -> struct_pack(sid := CAST(i AS BIGINT),
              |      span := array_to_string(ts[(i*8+1):(i*8+8)], ' ')))) AS c
              |  FROM toks),
              |s2 AS (SELECT doc_id, c.sid AS sid, c.span AS span, md5(c.span) AS g FROM sp),
              |boiler AS (SELECT g FROM s2 GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
              |keptsp AS (SELECT * FROM s2 WHERE g NOT IN (SELECT g FROM boiler)),
              |surv AS (SELECT doc_id, string_agg(span, ' ' ORDER BY sid) AS clean_text
              |  FROM keptsp GROUP BY doc_id),
              |clean AS (SELECT doc_id,
              |    CAST(length(clean_text) AS BIGINT) AS clean_chars,
              |    md5(clean_text) AS clean_md5
              |  FROM surv WHERE length(clean_text) > 0),
              |dedup AS (SELECT * FROM (SELECT *,
              |    row_number() OVER (PARTITION BY clean_md5 ORDER BY doc_id) AS rn
              |  FROM clean) WHERE rn = 1),
              |lbl AS (SELECT d.doc_id, d.clean_chars, doc.lang,
              |    CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
              |      AS bucket
              |  FROM dedup d JOIN documents doc ON d.doc_id = doc.doc_id)
              |SELECT lang,
              |  CASE WHEN bucket < 80 THEN 'train'
              |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(clean_chars) AS BIGINT) AS clean_chars
              |FROM lbl GROUP BY lang, split ORDER BY lang, split""".stripMargin)
    )
  )
}
