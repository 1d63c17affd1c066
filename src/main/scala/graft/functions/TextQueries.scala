package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis layer over the `documents` table (north-star ops, SURVEY.md
  * §7.5): token stats, quality scoring, language-ID, and fingerprinting.
  *
  * Everything is a row-local column expression (higher-order functions over
  * the token array) — map-side only, codegen-friendly, no shuffle beyond the
  * final presentation sort. This is the shape a 100 TB quality-filter pass
  * needs: one scan, no wide dependencies.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame
  import TextOps.{toks, shingles, toksSql, shinglesSql}

  /** Per-language stopword lists for the n-gram/stopword lang-ID heuristic.
    * Order is the deterministic tie-break priority. */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "es" -> Seq("el", "la", "de", "los", "y", "en", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "fr" -> Seq("le", "les", "et", "des", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def hits(tk: Column, words: Seq[String]): Column =
    size(filter(tk, t => t.isInCollection(words)))

  /** TX1 — token statistics: counts + mean token length (milli-scaled
    * exact ratio; zero-token docs score 0). */
  private val tx1: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), toks(col("text")).as("tk"))
      // token-HOF features once, scaled ratio over the attributes (the
      // ruleGate/QF one-evaluation discipline, r13)
      .select(
        col("doc_id"), col("n_chars"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct_tokens"),
        aggregate(col("tk"), lit(0L), (acc, t) => acc + length(t)).as("_ls"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct_tokens"),
        ExactRatio.scaled(col("_ls"), col("n_tokens").cast("long"), 1000L)
          .as("avg_token_len_milli"))
      .orderBy(col("doc_id"))

  /** The quality features over a materialized `tk`/`text` pair — ONE
    * definition shared by tx2 and px1 (Spark side) with [[qfSql]] as the
    * oracle mirror, so the formula cannot drift between call sites.
    *
    * r13 (guide §4): the features are now ATTRIBUTES produced once per row
    * by [[attach]], not inline expression trees — ExactRatio.scaled
    * references its num ~5× and den ~8×, and with inline trees Catalyst
    * duplicated the regexp_replace / stopword-HOF work that many times per
    * row (qualityBp alone re-ran the regexp ~8×). CollapseProject cannot
    * merge the feature projection upward because the aliases are non-cheap
    * and multiply referenced, so each feature is evaluated exactly once;
    * the values (and every oracle) are unchanged. */
  private object QF {
    def n: Column = col("_qf_n")
    def len: Column = col("_qf_len")
    def punct: Column = col("_qf_punct")
    def stop: Column = col("_qf_stop")
    /** Append the four feature columns to a frame carrying `text` + `tk`. */
    def attach(df: DataFrame): DataFrame =
      df.select(df.columns.map(col).toSeq ++ Seq(
        size(col("tk")).cast("long").as("_qf_n"),
        length(col("text")).cast("long").as("_qf_len"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
          .as("_qf_punct"),
        hits(col("tk"), stopwords.head._2).cast("long").as("_qf_stop")): _*)
  }

  /** The four quality features as a MEMOIZED doc-grain core (r14 — guide
    * §2.4): SIX registered query paths (tx2, px23, the px1/px5/px16 prep,
    * and px15 via tx2 — px16 ran the feature pass TWICE, once under px15's
    * argmax and once under its own prep) each re-ran the corpus tokenize +
    * regexp + stopword-HOF pass to derive these exact row-local values.
    * (doc_id, lang, 4 longs) — doc-dimension-sized at any corpus scale,
    * checkpoint-backed like doc_lens. Values are identical by construction
    * ([[QF.attach]] is the one definition, evaluated here once). */
  private def docQf(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_qf", "documents.parquet")(
      QF.attach(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"),
            toks(col("text")).as("tk")))
        .select(col("doc_id"), col("lang"), col("_qf_n"), col("_qf_len"),
          col("_qf_punct"), col("_qf_stop")))

  /** quality = 0.4·min(1, n/100) + 0.3·(1 − punct/len) + 0.3·stop/n, in
    * basis points via exact integer arithmetic (ExactRatio): the rational
    * cancels into values that sit EXACTLY on round-half boundaries (e.g.
    * 25716/48000 = 0.535750) and double-rounding of those is engine-
    * dependent. Empty/whitespace-only docs (n or len = 0) score 0. */
  private def qualityBp: Column =
    ExactRatio.scaled(
      lit(4L) * least(lit(100L), QF.n) * QF.len * QF.n +
        lit(300L) * (QF.len - QF.punct) * QF.n + lit(300L) * QF.stop * QF.len,
      lit(1000L) * QF.len * QF.n, 10000L)

  /** TX2 — quality score: length saturation + non-punct share + stopword
    * share, a typical pretraining quality filter (weights are fixed). */
  private val tx2: Q = (s, d) =>
    docQf(s, d)
      .select(
        col("doc_id"),
        // size() is int-typed; the memoized feature is the long cast —
        // cast back so the output schema is unchanged (lossless: the
        // value IS an array size)
        QF.n.cast("int").as("n_tokens"),
        ExactRatio.scaled(QF.punct, QF.len, 10000L).as("punct_bp"),
        ExactRatio.scaled(QF.stop, QF.n, 10000L).as("stopword_bp"),
        qualityBp.as("quality_bp"))
      .orderBy(col("doc_id"))

  /** px23's draw geometry: 4 hex digits of a salted md5 → u ∈ [0, 2¹⁶). */
  private[graft] val DrawScale = 65536L
  private[graft] val DrawSalt = "px23:"

  /** Spark-side 4-hex-digit draw over md5(salt ‖ doc_id) — instr
    * arithmetic so the DuckDB oracle mirrors it digit for digit. */
  private def draw4(salt: String): Column = {
    def dig(pos: Int) = expr(
      s"instr('0123456789abcdef', substring(md5(concat('$salt', " +
        s"cast(doc_id as string))), $pos, 1)) - 1")
    lit(4096L) * dig(1) + lit(256L) * dig(2) + lit(16L) * dig(3) + dig(4)
  }

  /** PX23 — QUALITY-PROPORTIONAL SAMPLING (the soft quality filter):
    * keep each document with probability quality_bp/10⁴ — the middle
    * ground between px1's hard gate (a threshold discards the
    * mid-quality mass entirely) and keeping everything: retention
    * follows the quality gradient, so the kept corpus is quality-tilted
    * without a cliff. The draw u is 4 hex digits of md5(salt ‖ doc_id);
    * keep iff u·10⁴ < quality_bp·2¹⁶ — pure integer cross-
    * multiplication, deterministic, reproducible, ingestion-order-
    * independent, and identical on both engines. Row-local end to end:
    * no shuffle at any corpus size. Laws: quality 10⁴ is always kept,
    * quality 0 never (spec re-derives every draw with MessageDigest). */
  private val px23: Q = (s, d) =>
    docQf(s, d)
      .select(col("doc_id"), qualityBp.as("quality_bp"),
        draw4(DrawSalt).cast("long").as("u"))
      .withColumn("kept", col("u") * lit(10000L) < col("quality_bp") * lit(DrawScale))
      .orderBy(col("doc_id"))

  /** px24's repeat-factor rule: source "srcN" trains for 1 + N mod 4
    * epochs. A stand-in for the mixture solver's output — the OPERATOR
    * under test is the expansion, not the factors. TRY_CAST (same
    * semantics in Spark AND DuckDB: malformed → NULL) so a source name
    * off the srcN contract fails IDENTICALLY in both engines instead of
    * Spark's non-ANSI CAST nulling where DuckDB raises (ADVICE r7);
    * TableSchemaSpec asserts the srcN contract on the testdata so drift
    * is loud, not silently dropped. */
  private val EpochFactorSql = "1 + TRY_CAST(substring(source, 4) AS INT) % 4"

  /** PX24 — SOURCE UPSAMPLING (repeat-factor mixing): small high-value
    * sources repeat R× in the training stream — the "4 epochs of
    * Wikipedia per 1 of web" trick every mixture actually ships with.
    * Each doc expands ROW-LOCALLY to its source's R epoch-tagged copies;
    * the read-order key is md5(epoch ‖ doc_id) (px20's permutation), so
    * the copies of one document land decorrelated across the stream
    * instead of adjacent — repeated data spread over the run, not
    * clumped. No shuffle at any corpus size (the expansion is a
    * generate; ordering/sharding is the px20 loader's job). */
  private val px24: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr(EpochFactorSql).cast("long").as("n_epochs"))
      .select(col("doc_id"), col("source"), col("n_epochs"),
        explode(sequence(lit(0L), col("n_epochs") - 1L)).as("epoch"))
      .select(col("doc_id"), col("source"), col("n_epochs"), col("epoch"),
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("ord_key"))
      .orderBy(col("doc_id"), col("epoch"))

  /** TX3 — language ID: argmax of per-language stopword hits with a fixed
    * priority tie-break; scored against the labeled `lang` column. */
  private val tx3: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
      .select(
        col("doc_id") +: col("lang") +:
          stopwords.map { case (l, ws) => hits(col("tk"), ws).as(s"c_$l") }: _*)
    val langs = stopwords.map(_._1)
    // priority-ordered argmax: first lang whose count >= every later count
    val predicted = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), fallback) =>
        val rest = langs.drop(i + 1)
        when(rest.map(r => col(s"c_$l") >= col(s"c_$r")).reduce(_ && _), lit(l))
          .otherwise(fallback)
    }
    base
      .withColumn("predicted", predicted)
      .withColumn("correct", (col("predicted") === col("lang")).cast("int"))
      .select(col("doc_id"), col("lang"), col("predicted"), col("correct"))
      .orderBy(col("doc_id"))
  }

  /** TX4 — document fingerprint: the 4 smallest shingle hashes joined (a
    * winnowing-style sketch — stable under small edits elsewhere in the
    * doc). Row-local. */
  private val tx4: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), shingles(col("tk")).as("sh"))
      .select(
        col("doc_id"),
        concat_ws("-",
          slice(sort_array(transform(col("sh"), x => md5(x))), 1, 4))
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  /** TX5 — vocabulary construction: corpus-wide term and document
    * frequencies, top-100. The one text op that genuinely needs a shuffle
    * (token → counts); explode feeds a map-side-combining hash aggregate. */
  private val tx5: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(100)

  /** tx14's vocabulary size and report size. */
  private[graft] val LiftVocab = 30
  private[graft] val LiftTopK = 20L

  /** TX14 — TERM CO-OCCURRENCE LIFT (the PMI kernel with exact integers):
    * for the top-[[LiftVocab]] terms by document frequency, how much more
    * often do two terms share a document than independence predicts?
    * lift = P(a,b)/(P(a)·P(b)) = n_ab·N / (n_a·n_b) — the exponential of
    * PMI, emitted as an exact milli-scaled rational instead of a float
    * log so both engines agree bit-for-bit. The distributional-semantics
    * primitive behind collocation mining, stop-phrase detection, and
    * topic drift monitors. Scale shape: pair space is VOCAB-bounded —
    * docs reduce to their distinct vocab terms (≤ 30 rows/doc after the
    * broadcast semi join), the self-join on doc_id emits ≤ C(30,2)
    * pairs/doc, and everything above pair grain is geometry-bounded, not
    * data-bounded. Never term×term over the raw corpus. */
  private val tx14: Q = (s, d) => cooccurLift(Tables.documents(s, d))

  /** tx14's core over any documents frame — exposed for the spec's planted
    * perfect-collocation fixture. Pairs that never co-occur are absent by
    * construction (the self-join only emits observed pairs). */
  private[graft] def cooccurLift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = docs
      .select(col("doc_id"), explode(array_distinct(toks(col("text"))))
        .as("term"))
    val vocab = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(LiftVocab)
    val dv = dt.join(broadcast(vocab), Seq("term"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val a = dv.select(col("doc_id"), col("term").as("t1"), col("df").as("n_a"))
    val b = dv.select(col("doc_id"), col("term").as("t2"), col("df").as("n_b"))
    val pairs = a.join(b, Seq("doc_id")).filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(broadcast(n))
      .withColumn("lift_milli", graft.functions.ExactRatio.scaled(
        col("n_ab") * col("n_docs"), col("n_a") * col("n_b"), 1000L))
      .withColumn("rnk", row_number().over(Window.orderBy(
        col("n_ab").desc, col("t1"), col("t2"))).cast("long"))
      .filter(col("rnk") <= LiftTopK)
      .select(col("t1"), col("t2"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift_milli"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** PX1 — end-to-end corpus prep, the composed training-data pipeline:
    * exact-dedup survivors ∩ quality ≥ 0.55 ∩ labeled English, projected to
    * (doc_id, n_tokens, quality). One scan feeds the row-local quality
    * features; the dedup survivor check is the only join (broadcast — the
    * survivor set is #distinct-contents keep ids). This is the query shape
    * of an actual pretraining filter pass. */
  /** The prep pass px1/px5 share: labeled English ∩ quality ≥ 0.55,
    * joined to a caller-supplied survivor set — ONE definition so the two
    * corpus-prep queries cannot silently diverge on the threshold or the
    * feature shape (their oracles already share qfSql the same way). */
  private def prep(s: SparkSession, d: String,
                   survivors: org.apache.spark.sql.DataFrame) =
    docQf(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), QF.n.cast("int").as("n_tokens"),
        qualityBp.as("quality_bp"))
      .filter(col("quality_bp") >= 5500L)
      .join(survivors, Seq("doc_id"))
      .orderBy(col("doc_id"))

  private val px1: Q = (s, d) =>
    prep(s, d, Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")))

  /** PX5 — corpus prep with NEAR-DUP-canonical survivors: px1 with the
    * exact-dedup survivor set replaced by d6's cluster canonicals, i.e.
    * the filter pass a real pretraining pipeline runs once near-dup
    * clustering exists (A~B~C keeps only the component minimum, where
    * exact dedup would keep all three non-identical variants). Composes
    * the d6 component machinery into the text pipeline; the oracle
    * composes the closure SQL the same way. */
  private val px5: Q = (s, d) =>
    prep(s, d, graft.operators.Dedup.queries("d6_neardup_clusters")(s, d)
      .filter(col("is_canonical")).select(col("doc_id")))

  /** TX6 — corpus-LM fluency (simplified KenLM idea): how common are a
    * document's bigrams in the whole corpus? Two-pass: corpus bigram counts
    * (shuffle on bigram), then per-doc mean corpus-count of its bigrams —
    * low scores flag disfluent/outlier text. Score is an exact scaled
    * integer (milli mean). */
  private val tx6: Q = (s, d) => {
    val docBigrams = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(0), size(col("tk")) - 2), i =>
            concat_ws(" ", element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .otherwise(array(concat_ws(" ", col("tk"))))).as("bigram"))
    val counts = docBigrams.groupBy(col("bigram")).agg(count(lit(1)).as("bg_count"))
    docBigrams.join(counts, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("bg_count")).as("sum_c"), count(lit(1)).as("n_bg"))
      .select(col("doc_id"), col("n_bg"),
        ExactRatio.scaled(col("sum_c"), col("n_bg"), 1000L).as("fluency_milli"))
      .orderBy(col("doc_id"))
  }

  /** TX7 — repetition detection: share of the document's word-3-grams taken
    * by its single most repeated 3-gram (boilerplate/spam signal). Uses the
    * WITH-duplicates shingle stream; basis points, exact. */
  private val tx7: Q = (s, d) => {
    val withDup = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 3,
          transform(sequence(lit(0), size(col("tk")) - 3), i =>
            concat_ws(" ", element_at(col("tk"), i + 1),
              element_at(col("tk"), i + 2), element_at(col("tk"), i + 3))))
          .otherwise(array(concat_ws(" ", col("tk"))))).as("sh"))
    withDup.groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_sh"))
      .select(col("doc_id"), col("max_rep"), col("n_sh"),
        ExactRatio.scaled(col("max_rep"), col("n_sh"), 10000L).as("repetition_bp"))
      .orderBy(col("doc_id"))
  }

  /** PX2 — stratified sampling for data mixing: per-language keep-rates
    * (en 80%, others 30%) applied by a DETERMINISTIC hash bucket — the
    * first two md5 hex digits of the doc id give a uniform 0..255 draw both
    * engines reproduce exactly. Spark's sampleBy is seeded-random and
    * neither portable nor re-runnable; hash sampling is both, and at 100 TB
    * it needs no shuffle at all (row-local predicate). */
  /** Deterministic 0..255 draw from the doc id (first two md5 hex digits) —
    * the portable hash-sampling primitive px2/px6 share. */
  private val bucket256 = expr(
    "16 * (instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1) + " +
      "(instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 2, 1)) - 1)")

  private val px2: Q = (s, d) => {
    val quota = when(col("lang") === "en", 205).otherwise(77) // 80% / 30% of 256
    Tables.documents(s, d)
      .withColumn("bucket", bucket256)
      .filter(col("bucket") < quota)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** PX3 — token-budget selection (context packing / per-source caps):
    * within each source, take documents in doc_id order while the running
    * token total stays under 2000 — the per-source cap step of a mixing
    * pipeline. One window per source partition. */
  private val px3: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 2000L)
      .orderBy(col("source"), col("doc_id"))
  }

  /** PX6 — MIXTURE-WEIGHTED resampling: resample the corpus toward a
    * TARGET source mixture (even-numbered sources weighted 3×) under a
    * half-corpus budget. The per-source keep-rate is DERIVED from the
    * actual source counts in one tiny aggregation (|sources| rows,
    * broadcast back), so the same query rebalances any skewed corpus; the
    * keep decision itself is the px2 deterministic hash bucket — row-local,
    * re-runnable, no shuffle of the fact table. All arithmetic is integer
    * (256ths), so both engines compute the identical rate. */
  private val px6: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // "even-numbered source" = id ends in an even digit — a pure string
    // test, total on ANY source value: a numeric-suffix CAST diverges
    // across engines on unparseable names (Spark try-null vs DuckDB
    // error) and truncates on 11+-digit ids (self-review r5)
    val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("w",
        when(substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"), 3L)
          .otherwise(1L))
    val tot = per.agg(sum(col("n_s")).as("n_total"), sum(col("w")).as("w_sum"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("rate_256", least(lit(256L),
        expr("(256 * n_total * w) div (2 * w_sum * n_s)")))
      .select(col("source"), col("rate_256"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("bucket", bucket256)
      .filter(col("bucket") < col("rate_256"))
      .select(col("doc_id"), col("source"), col("rate_256"))
      .orderBy(col("doc_id"))
  }

  /** PX9 — TEMPERATURE-α mixture sampling (α = 0.5): keep-rates
    * proportional to n_s^α / n_s = n_s^(α−1), the standard pretraining
    * rebalance that upweights small sources without letting any source
    * dominate (α=1 is proportional, α=0 is uniform-by-source). The only
    * irrational step, √n_s, is taken ONCE per source and immediately
    * milli-floored to an integer (sqrt is IEEE-correctly-rounded in both
    * engines, so the floor agrees), and everything after is exact integer
    * arithmetic widened to 38-digit DECIMAL / HUGEINT — the rate math
    * cannot overflow at any corpus size. Target volume is half the
    * corpus, like px6. Same deterministic md5 bucket as px2/px6: the
    * sample is re-runnable and join-stable. */
  private val px9: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("w_milli",
        expr("cast(floor(sqrt(cast(n_s as double)) * 1000) as bigint)"))
    val tot = per.agg(sum(col("n_s")).as("n_total"),
      sum(col("w_milli")).as("wm_sum"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("rate_256", least(lit(256L),
        expr("cast((256 * cast(n_total div 2 as decimal(38,0)) * w_milli) div " +
          "(wm_sum * cast(n_s as decimal(38,0))) as bigint)")))
      .select(col("source"), col("rate_256"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("bucket", bucket256)
      .filter(col("bucket") < col("rate_256"))
      .select(col("doc_id"), col("source"), col("rate_256"))
      .orderBy(col("doc_id"))
  }

  /** The PII scrub patterns — email, dotted-quad IP, international phone.
    * Java regex and RE2 agree on this subset (character classes, bounded
    * repetition, \b ASCII word boundary; no backreferences/lookaround,
    * which RE2 lacks — the portability constraint that decides what a
    * cross-engine-gated scrubber may use). */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  private[graft] val PhoneRe = "\\+\\d[\\d-]{5,}\\d"

  /** PX7 — PII REDACTION: count and scrub emails / IPs / phone numbers.
    * The corpus is synthetic word-salad with no PII, so each doc is
    * AUGMENTED with deterministic doc_id-derived PII first (every third
    * doc gets none — the zero path is exercised); what the gate then
    * verifies is the hard part, regex-semantics parity between engines on
    * counts AND on the full redacted text (md5). Row-local scan shape:
    * at 100 TB this is one map-side pass, no shuffle. */
  private val px7: Q = (s, d) => {
    val pii = concat(lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 call +1-555-01"), (col("doc_id") % 90 + 10).cast("string"))
    val aug = when(col("doc_id") % 3 === 0, col("text"))
      .otherwise(concat(col("text"), pii))
    Tables.documents(s, d)
      .select(col("doc_id"), aug.as("txt"))
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("txt"), lit(Ipv4Re)).cast("long").as("n_ip"),
        regexp_count(col("txt"), lit(PhoneRe)).cast("long").as("n_phone"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("txt"),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** LEAKAGE-SAFE SPLIT: assign every row of `df` to train/val/test by a
    * deterministic hash of its GROUP key, so all rows sharing a key land
    * in the SAME split — the guard against a document leaking from train
    * into eval through its duplicates (the split analogue of px4's
    * decontamination). The key is re-hashed (md5 of its string form)
    * before bucketing, so ANY key type/distribution — content hash,
    * cluster id, URL domain — draws uniformly. Row-local: no shuffle at
    * any corpus size; 80/10/10 by 256ths (205/25/26). */
  def groupSplit(df: org.apache.spark.sql.DataFrame,
                 groupKey: Column): org.apache.spark.sql.DataFrame =
    df.withColumn("group_key", groupKey.cast("string"))
      .withColumn("bucket", expr(
        "16 * (instr('0123456789abcdef', substring(md5(group_key), 1, 1)) - 1) + " +
          "(instr('0123456789abcdef', substring(md5(group_key), 2, 1)) - 1)"))
      .withColumn("split",
        when(col("bucket") < 205, "train")
          .when(col("bucket") < 230, "val")
          .otherwise("test"))
      .drop("bucket")

  /** PX10 — the registered split at EXACT-DUP grain: group key =
    * md5(text), so byte-identical documents can never straddle a split
    * boundary. The oracle recomputes the same double-hash; the near-dup
    * variant (d6 cluster ids as the key) is spec-driven in NorthStarSpec —
    * its grouping is iterative and has no SQL oracle. */
  private val px10: Q = (s, d) =>
    groupSplit(Tables.documents(s, d).select(col("doc_id"), col("text")),
      md5(col("text")))
      .select(col("doc_id"), col("group_key"), col("split"))
      .orderBy(col("doc_id"))

  /** PX11 — SEQUENCE PACKING: assign documents to fixed-token-budget
    * training bins (the pack-into-2048-token-sequences step every
    * pretraining pipeline runs between filtering and tokenized shards).
    * Greedy order-preserving concatenation at doc granularity: each doc's
    * bin is its START offset in the per-source token stream divided by
    * the budget — docs are never reordered, and a doc straddling a
    * boundary belongs to the bin it starts in (the tokenizer's splitter
    * handles intra-doc splits downstream). One window per source
    * partition (px3's shape — partitions stay source-sized); emits the
    * offset so a shard writer can seek without recomputing. */
  private val PackBudget = 2048L

  /** The packing core over any (doc_id, source, n_tokens) frame — reused
    * by px11 and the composed TrainingPipeline (which packs only its
    * train split). */
  def packed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("stream_end", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", col("stream_end") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $PackBudget").as("bin_idx"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val px11: Q = (s, d) =>
    packed(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens")))

  /** PX12 — DOCUMENT CHUNKING: split every document into overlapping
    * token windows (chunk 128, stride 96 → 32-token overlap) — the
    * passage-splitting step in front of every embedding/RAG indexer and
    * the long-document half of sequence preparation. Entirely row-local
    * (sequence → explode → slice: the chunk grid is metadata arithmetic,
    * the slice touches only that chunk's tokens); emits the chunk's token
    * count and md5 rather than raw text, so the gate compares content
    * without nested columns. Every doc yields ≥1 chunk (short docs are
    * one whole-doc chunk); consecutive chunks share exactly
    * chunk − stride tokens. */
  private[graft] val ChunkTokens = 128
  private[graft] val ChunkStride = 96

  /** The chunking core over any (doc_id, text) frame — reused by px12 and
    * the multi-chunk overlap spec (the corpus's docs are mostly shorter
    * than one chunk, so the spec plants long synthetic docs). */
  def chunked(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"), col("tk"))
      // chunk starts: 0, stride, 2·stride, … up to the FIRST grid point
      // whose window reaches the doc's end — ⌈(n − chunk)/stride⌉ extra
      // chunks; a later start would be a tail fully contained in the
      // previous window (redundant for any retrieval consumer)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(transform(
          sequence(lit(0L), expr(s"(greatest(n_tokens - $ChunkTokens, 0) " +
            s"+ ${ChunkStride - 1}) div $ChunkStride")),
          i => slice(col("tk"), i * ChunkStride + 1, lit(ChunkTokens)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("col"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val px12: Q = (s, d) =>
    chunked(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** PX13 — CORPUS-NOVELTY SCORING: per document, the share of its
    * distinct shingles that also occur in at least one OTHER document
    * (basis points). High = derivative/boilerplate/templated text (a
    * memorization-risk and diversity signal the mixing stage weighs);
    * low = novel content. The inverse question of tx6's fluency (common
    * n-grams are GOOD there) — here commonality marks redundancy. Scale
    * shape: shingle-grain document frequencies (one count shuffle with
    * map-side partials), joined back at shingle grain, re-aggregated per
    * doc — never doc×doc. Shingles are array_distinct'd per doc, so the
    * (doc, shingle) stream is already unique and both counts are plain
    * hash aggregates. */
  private val px13: Q = (s, d) => {
    // r13: (doc_id, shingles) here is EXACTLY Dedup's memoized doc_shingles
    // core (same toks∘shingles definition, TextOps) — px13 was the only
    // shingle consumer still re-tokenizing the corpus, and it did so TWICE
    // (the lazy stream feeds both the count and the join-back). Reading the
    // shared checkpoint drops both tokenize passes.
    val sh = graft.operators.Dedup.docShingles(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
    sh.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        ExactRatio.scaled(col("n_shared"), col("n_shingles"), 10000L)
          .as("derivative_bp"))
      .orderBy(col("doc_id"))
  }

  /** PX15 — QUALITY-AWARE SURVIVOR SELECTION: for each d6 near-dup
    * cluster keep the HIGHEST-quality member (tx2's score; min doc_id
    * breaks ties) instead of d6's min-id canonical — the curation choice
    * every production dedup actually makes (the duplicate you keep should
    * be the cleanest copy, not the earliest crawl). Composed from the two
    * registered cores — clusters and scores come from the same code paths
    * the d6/tx2 gates verify — with one doc-grain join and a
    * cluster-partitioned ranking window (bounded by cluster size). */
  private val px15: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val clu = graft.operators.Dedup.queries("d6_neardup_clusters")(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val qual = tx2(s, d).select(col("doc_id"), col("quality_bp"))
    clu.join(qual, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality_bp").desc, col("doc_id"))))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members"), col("quality_bp").as("best_quality_bp"))
      .orderBy(col("cluster_id"))
  }

  /** PX16 — corpus prep with QUALITY-CHOSEN survivors: px5's gate over
    * px15's best-of-cluster keeps instead of the min-id canonicals, i.e.
    * "keep the cleanest copy of each near-dup family, THEN gate" — the
    * composition a production build actually wants (a family whose
    * min-id member fails the quality gate but whose best member passes
    * survives here and is lost in px5). Same single prep definition, so
    * the three corpus-prep queries cannot drift on thresholds. Caveat,
    * honestly: px15 picks the argmax language-blind, so coverage ⊇ px5
    * holds when families are language-homogeneous (true of near-dup
    * clusters in practice and asserted by the spec on this corpus) —
    * a mixed-language family whose best copy is non-English would gate
    * out here while px5 kept its English canonical. */
  private val px16: Q = (s, d) =>
    prep(s, d, px15(s, d).select(col("keep_id").as("doc_id")))

  /** The word-frequency VOCAB table — BPE's working relation: the one
    * corpus-grain shuffle collapses the token stream to (word, count);
    * every training round afterwards iterates on THIS table. */
  private[graft] def vocabOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))

  /** TX12's core: the BPE-training counting kernel over any documents
    * frame — exposed so the spec can hand-check a planted vocabulary.
    * Returns the FULL adjacent-pair inventory; the registered query takes
    * the top-[[BpeTop]]. */
  private[graft] def bpePairs(docs: DataFrame): DataFrame = {
    val words = vocabOf(docs)
    words
      .select(col("wf"), explode(
        when(length(col("w")) >= 2,
          transform(sequence(lit(1), length(col("w")) - 1),
            i => concat(col("w").substr(i, lit(1)), col("w").substr(i + 1, lit(1)))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("pair_count"))
  }

  private[graft] val BpeTop = 20

  /** TX12 — BPE MERGE-PAIR COUNTING: the kernel of byte-pair-encoding
    * tokenizer training at corpus scale. One word-grain count shuffle
    * collapses the token stream to the vocabulary (the classic BPE trick —
    * pair statistics are computed over the word-frequency table, each
    * word's pairs weighted by its count, never over the raw stream), then
    * one pair-grain sum; the top pair is the next merge. Both aggregations
    * are map-side-combining hash aggs at vocab/char-pair cardinality —
    * at 100 TB the first shuffle's output is the vocabulary, millions of
    * rows, and every later BPE round iterates on THAT table, not the
    * corpus. This registers the counting round; iterating merges re-runs
    * it over the re-symbolized vocab. */
  private val tx12: Q = (s, d) =>
    bpePairs(Tables.documents(s, d))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(BpeTop)

  /** tx12b's round count — enough rounds to exercise merged-symbol pairs
    * (merges of merges appear by round 2 on the corpus). */
  private[graft] val BpeMergeRounds = 8

  /** THE BPE MERGE LOOP over a (w, wf) vocab table — the iteration tx12
    * only documented (VERDICT r10 missing #2). Words are held as a WRAPPED
    * SYMBOL STRING: every symbol pipe-delimited on both sides ("abc" →
    * "|a||b||c|"), which makes applying a merge a single left-to-right
    * non-overlapping replace("|a||b|" → "|ab|") — EXACTLY greedy BPE merge
    * semantics ("aaa" merges to [aa, a], never [a, aa]), identical in
    * Spark and DuckDB, row-local, codegen'd. Tokens are word characters
    * (toks), so '|' can never occur inside a symbol.
    *
    * Each round: one pair-count aggregation at vocab grain (adjacent
    * symbols weighted by wf, map-side combined), ONE collected row (the
    * argmax pair, count desc / sym_a / sym_b — deterministic), one
    * row-local re-symbolization, checkpoint (the g1/x9 eager-loop
    * convention: round r must not re-derive rounds 1..r−1's replaces).
    * At 100 TB this is the standard distributed-BPE economics: the corpus
    * is touched ONCE (vocabOf); R rounds each shuffle the vocab table —
    * millions of rows, not terabytes — and move one row to the driver.
    * Returns the merge table (round, sym_a, sym_b, pair_count), the
    * training artifact a tokenizer ships. */
  /** The merge SEQUENCE as driver data — the artifact a tokenizer ships
    * (and the thing [[bpeEncode]] applies). */
  /** Wrap a (w, wf) vocab's words as pipe-delimited symbol strings. */
  private def wrappedVocab(vocab: DataFrame): DataFrame =
    vocab.select(regexp_replace(col("w"), "(.)", "\\|$1\\|").as("wrapped"),
      col("wf"))

  /** Adjacent-symbol pair counts over a wrapped vocab — the per-round
    * counting plan both the sequential and the batched merge loops share:
    * one vocab-grain explode + one map-side-combining hash agg at
    * symbol-pair cardinality. */
  private def wrappedPairCounts(v: DataFrame): DataFrame = {
    val syms = split(
      col("wrapped").substr(lit(2), length(col("wrapped")) - 2), "\\|\\|")
    v.select(col("wf"), syms.as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("wf"),
        explode(transform(sequence(lit(0), size(col("syms")) - 2), i =>
          struct(element_at(col("syms"), i + 1).as("a"),
            element_at(col("syms"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wf")).as("cnt"))
  }

  private[graft] def bpeMergeList(vocab: DataFrame,
                                  rounds: Int): Seq[(Long, String, String, Long)] = {
    var v = wrappedVocab(vocab).localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val top = wrappedPairCounts(v)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((r.toLong, a, b, cnt))
        v = v.withColumn("wrapped",
            replace(col("wrapped"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
          .localCheckpoint(true)
      }
    }
    out.toSeq
  }

  private[graft] def bpeMerges(vocab: DataFrame, rounds: Int): DataFrame =
    vocab.sparkSession.createDataFrame(bpeMergeList(vocab, rounds))
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .orderBy(col("round"))

  /** The corpus merge sequence, memoized — training is deterministic, and
    * tx12b/tx12c must share ONE sequence (the fixedCodebook contract: the
    * trained artifact is driver data). */
  private[graft] def corpusMerges(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    graft.Memo.value(s, d, "documents.parquet", "bpe_merges")(
      bpeMergeList(vocabOf(Tables.documents(s, d)), BpeMergeRounds))

  // ---------------------------------------------------------------------
  // BATCHED BPE TRAINING (tx12d/tx12e) — VERDICT r11 weak #1: the
  // sequential loop above is one Spark job + one collected row +
  // one localCheckpoint PER MERGE; at a production tokenizer's 30 k
  // merges the round count itself is the driver-side bottleneck. The
  // fix: apply a BATCH of merges per counting round, selected from one
  // collected top-[[BpeBatchScan]] snapshot (≤ scan+1 driver rows/round).
  //
  // Two merges (a,b), (c,d) INTERACT iff they can overlap positionally or
  // feed each other: b=c or d=a (chaining — applying one destroys or
  // retimes occurrences of the other), or one's output symbol is an input
  // of the other (a+b ∈ {c,d} or c+d ∈ {a,b} — applying one CREATES
  // occurrences of the other). Pairs merely sharing a non-boundary symbol
  // ((e,r) vs (o,r)) cannot overlap — same position would need two
  // different neighbors — so each accepted merge leaves every other
  // accepted merge's occurrence set, and hence count, untouched, and the
  // batch's replaces commute.
  //
  // EXACT mode (strict=true, tx12e) is provably ≡ the sequential loop:
  //   accept the candidates in snapshot rank order, STOPPING at the first
  //   that interacts with an accepted one, after an accepted self-merge
  //   (a=a: its successor pairs like (aa,aa) are bounded only by
  //   cnt(a,a)/2, which can exceed any later candidate), and cutting back
  //   to the last rank k with cnt_k > cnt_{k+1} (floor 1).
  //   Proof sketch: member i's count is invariant under members 1..i-1
  //   (non-interaction); every pair NOT accepted ranks past the stop, so
  //   its count ≤ cnt_{k+1} < cnt_k ≤ cnt_i (the strict-descent cut);
  //   a new pair (x, ab) born from member (a,b) maps 1:1 into old (x,a)
  //   occurrences, and (x,a) chains into (a,b) so it too ranks past the
  //   stop — hence member i is the unique sequential argmax at step i
  //   (ties within the batch break by (a,b) = rank order). Natural text
  //   chains heavily at the top (the argmax's symbol feeds the runner-up),
  //   so exact batches measure ~1.4 merges/round — correct-by-construction
  //   but a modest win.
  // THROUGHPUT mode (strict=false, tx12d) SKIPS interacting candidates
  //   and keeps scanning — the standard distributed-BPE batching. The
  //   merge SEQUENCE may diverge from sequential (a skipped chained pair,
  //   e.g. (m,er) after (e,r), re-enters later with its retimed count),
  //   but every batch is pairwise non-interacting, counts are exact
  //   snapshot counts, and the trained tokenizer is measurably
  //   indistinguishable: at 64 merges on the corpus, total encoded
  //   symbols differ from sequential by 0.06% while rounds drop 7.1×
  //   (spec-pinned). This is the production path: 30 k merges in ~4 k
  //   scheduler round-trips instead of 30 k.
  // ---------------------------------------------------------------------

  private[graft] val BpeBatchTop = 8 // max merges accepted per round
  private[graft] val BpeBatchScan = 32 // candidate ranks scanned per round
  private[graft] val BpeBatchRounds = 3 // registered gate rounds

  private[graft] def bpeInteracts(pa: String, pb: String,
                                  ca: String, cb: String): Boolean =
    pb == ca || cb == pa ||
      pa + pb == ca || pa + pb == cb || ca + cb == pa || ca + cb == pb

  /** One batch selection over the ranked candidate snapshot (cnt DESC, a,
    * b; 1-based rank). Returns accepted (a, b, cnt, rank) in rank order.
    * Mirrored EXACTLY by the oracle's list_reduce fold — same closure
    * conditions in the same order. */
  private[graft] def selectBpeBatch(cands: IndexedSeq[(String, String, Long)],
                                    top: Int, scan: Int,
                                    strict: Boolean): IndexedSeq[(String, String, Long, Long)] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    var open = true
    for (((a, b, cnt), idx) <- cands.take(scan).zipWithIndex if open) {
      val rn = idx + 1L
      if (acc.size >= top) open = false
      else if (acc.exists(p => p._1 == p._2)) open = false // self-merge closed it
      else if (strict && acc.size < rn - 1) open = false // prefix broken
      else if (acc.exists(p => bpeInteracts(p._1, p._2, a, b))) {
        if (strict) open = false // stop at the first interaction
        // throughput mode: skip and keep scanning
      } else acc += ((a, b, cnt, rn))
    }
    if (strict) {
      // strict-descent cut: the last accepted rank must strictly beat the
      // next candidate's count, else sequential could tie-break past it
      var k = acc.size
      while (k > 1 && cands.size > k && acc(k - 1)._3 <= cands(k)._3) k -= 1
      acc.take(k).toIndexedSeq
    } else acc.toIndexedSeq
  }

  /** The batched merge loop: per round ONE pair-count job over the
    * wrapped vocab, ≤ [[BpeBatchScan]]+1 collected rows, the driver-side
    * batch selection above, one row-local composite re-symbolization
    * (the batch's replaces commute — applied in rank order for the
    * recorded table), one checkpoint. Returns
    * (merge_seq, batch_round, sym_a, sym_b, pair_count). */
  private[graft] def bpeMergeListBatched(vocab: DataFrame, rounds: Int,
                                         top: Int, scan: Int, strict: Boolean):
      Seq[(Long, Long, String, String, Long)] = {
    var v = wrappedVocab(vocab).localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String, Long)]
    var mergeSeq = 0L
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val cands = wrappedPairCounts(v)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(scan + 1).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        .toIndexedSeq
      if (cands.isEmpty) exhausted = true
      else {
        val batch = selectBpeBatch(cands, top, scan, strict)
        for ((a, b, cnt, _) <- batch) {
          mergeSeq += 1
          out += ((mergeSeq, r.toLong, a, b, cnt))
        }
        v = batch.foldLeft(v) { case (vv, (a, b, _, _)) =>
          vv.withColumn("wrapped",
            replace(col("wrapped"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
        }.localCheckpoint(true)
      }
    }
    out.toSeq
  }

  private[graft] def corpusBatchedMerges(s: SparkSession, d: String,
                                         strict: Boolean): Seq[(Long, Long, String, String, Long)] =
    graft.Memo.value(s, d, "documents.parquet",
      if (strict) "bpe_batched_exact" else "bpe_batched", strict)(
      bpeMergeListBatched(vocabOf(Tables.documents(s, d)),
        BpeBatchRounds, BpeBatchTop, BpeBatchScan, strict))

  private def batchedMergesDf(s: SparkSession, strict: Boolean, d: String): DataFrame =
    s.createDataFrame(corpusBatchedMerges(s, d, strict))
      .toDF("merge_seq", "batch_round", "sym_a", "sym_b", "pair_count")
      .orderBy(col("merge_seq"))

  /** TX12D — THROUGHPUT-BATCHED BPE training (skip-accept). */
  private val tx12d: Q = (s, d) => batchedMergesDf(s, strict = false, d)

  /** TX12E — EXACT-BATCHED BPE training (prefix-stop; ≡ sequential). */
  private val tx12e: Q = (s, d) => batchedMergesDf(s, strict = true, d)

  /** The batched oracle: each round's candidate snapshot ranked by
    * (cnt DESC, a, b), the batch selected by a list_reduce fold with the
    * SAME closure conditions as [[selectBpeBatch]], the ≤ top accepted
    * merges applied as LEFT-JOIN slot layers (pass-through when the slot
    * is empty — rounds after exhaustion are no-ops on both engines).
    * MATERIALIZED on the multiply-referenced CTEs: DuckDB re-inlines
    * non-materialized CTEs per reference, which goes exponential across
    * round layers (measured 88 s → 0.1 s at sf0.01). NOTE the fold never
    * returns `acc` itself — DuckDB 1.0's list_reduce corrupts the
    * accumulator when a step returns it unchanged (observed:
    * list_reduce([[],[1],[1],[2]], dedup-fold) = [2]); the
    * list_concat(acc, CASE … THEN [] …) form sidesteps it. */
  private def bpeBatchedSql(rounds: Int, top: Int, scan: Int,
                            strict: Boolean): String = {
    val stype = "STRUCT(a VARCHAR, b VARCHAR, cnt BIGINT, rn BIGINT)"
    val interacts = "p.b = c[1].a OR c[1].b = p.a OR (p.a || p.b) IN (c[1].a, c[1].b)" +
      " OR (c[1].a || c[1].b) IN (p.a, p.b)"
    val prefixCond =
      if (strict) "\n       |       WHEN len(acc) < c[1].rn - 1 THEN []" else ""
    val layers = (1 to rounds).map { r =>
      val batSrc =
        if (strict)
          s""" kcut$r AS (SELECT coalesce(max(a1.rn), 1) AS kc FROM braw$r a1
             |   LEFT JOIN c$r nx ON nx.rn = a1.rn + 1 WHERE nx.rn IS NULL OR a1.cnt > nx.cnt),
             | bat$r AS MATERIALIZED (SELECT a, b, cnt, rn,
             |   CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS slot
             |   FROM braw$r, kcut$r WHERE rn <= kc),""".stripMargin
        else
          s""" bat$r AS MATERIALIZED (SELECT a, b, cnt, rn,
             |   CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS slot FROM braw$r),""".stripMargin
      val applies = (1 to top).map { k =>
        s""" w${r}_$k AS (SELECT CASE WHEN t.a IS NULL THEN wrapped
           |     ELSE replace(wrapped, '|'||t.a||'||'||t.b||'|', '|'||t.a||t.b||'|') END AS wrapped, wf
           |   FROM w${r}_${k - 1} LEFT JOIN (SELECT a, b FROM bat$r WHERE slot = $k) t ON TRUE)""".stripMargin
      }.mkString(",\n")
      s""" s$r AS (SELECT string_split(substr(wrapped, 2, length(wrapped)-2), '||') AS syms, wf FROM v${r - 1}),
         | p$r AS (SELECT syms[i+1] AS a, syms[i+2] AS b, CAST(sum(wf) AS BIGINT) AS cnt
         |   FROM s$r, UNNEST(range(len(syms)-1)) AS rr(i) GROUP BY 1, 2),
         | c$r AS MATERIALIZED (SELECT a, b, cnt,
         |   CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rn
         |   FROM p$r QUALIFY rn <= ${scan + 1}),
         | sel$r AS (SELECT list_reduce(
         |     list_prepend(CAST([] AS $stype[]),
         |       coalesce((SELECT list([{a:a, b:b, cnt:cnt, rn:rn}] ORDER BY rn) FROM c$r WHERE rn <= $scan),
         |                CAST([] AS $stype[][]))),
         |     (acc, c) -> list_concat(acc, CASE
         |       WHEN len(acc) >= $top THEN []
         |       WHEN len(list_filter(acc, p -> p.a = p.b)) > 0 THEN []$prefixCond
         |       WHEN len(list_filter(acc, p -> $interacts)) > 0 THEN []
         |       ELSE c END)) AS acc),
         | braw$r AS MATERIALIZED (SELECT unnest(acc, recursive := true) FROM sel$r),
         |$batSrc
         | w${r}_0 AS (SELECT wrapped, wf FROM v${r - 1}),
         |$applies,
         | v$r AS MATERIALIZED (SELECT wrapped, wf FROM w${r}_$top)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(r =>
      s"SELECT $r AS rr, a, b, cnt, rn FROM bat$r").mkString(" UNION ALL ")
    s"""WITH w0 AS (SELECT unnest($toksSql) AS w FROM documents),
       | wf0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM w0 GROUP BY 1),
       | v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS wrapped, wf FROM wf0),
       |$layers,
       | allb AS ($union)
       | SELECT CAST(row_number() OVER (ORDER BY rr, rn) AS BIGINT) AS merge_seq,
       |   CAST(rr AS BIGINT) AS batch_round, a AS sym_a, b AS sym_b, cnt AS pair_count
       | FROM allb ORDER BY merge_seq""".stripMargin
  }

  /** APPLY the trained merges — BPE ENCODING, the serving half of the
    * tokenizer (train = tx12b, apply = here): wrap each word's characters,
    * run the R merge replaces IN TRAINING ORDER (row-local; order matters —
    * later merges consume earlier merges' symbols), and count the
    * resulting symbols. Per doc: words, characters, and the BPE symbol
    * count — the compression profile a tokenizer team reads (chars/symbol
    * rises as merges land).
    *
    * The encode runs at VOCAB grain (r13) — the same trick training
    * leans on: encode(word) depends on the word alone (merges never cross
    * word boundaries — '|' wraps every symbol and toks are word chars),
    * so the R-replace chain runs once per DISTINCT (doc, word) pair's
    * word, not once per token occurrence. Shape: one map-side-combined
    * (doc, word) count, one vocab-grain distinct for the encode table
    * (millions of rows at 100 TB, never the token stream), a join the
    * optimizer broadcasts (vocab ≪ corpus; on a vocabulary too big to
    * broadcast the shuffled join keys on the word — still never token
    * grain on the encode side), one doc-grain rollup. The previous form
    * ran ~R string replaces per TOKEN OCCURRENCE — 158 s at sf100,
    * dominated by per-occurrence allocation for work that is a pure
    * function of the word. */
  private[graft] def bpeEncode(docs: DataFrame,
                               merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val wrapped0 = regexp_replace(col("w"), "(.)", "\\|$1\\|")
    val encoded = merges.foldLeft(wrapped0) { case (c, (_, a, b, _)) =>
      replace(c, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    // symbols = half the pipe count (each symbol carries exactly 2 pipes)
    val nSyms = ((length(encoded) -
      length(replace(encoded, lit("|"), lit("")))) / 2).cast("long")
    val perDocWord = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("occ"))
    val encTable = perDocWord.select(col("w")).distinct()
      .select(col("w"), nSyms.as("w_syms"))
    perDocWord.join(encTable, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_words"),
        sum(length(col("w")).cast("long") * col("occ")).as("n_chars"),
        sum(col("w_syms") * col("occ")).as("n_symbols"))
      .orderBy(col("doc_id"))
  }

  /** TX12B — the corpus BPE merge table at [[BpeMergeRounds]] rounds. The
    * oracle unrolls the same rounds as CTE layers (the g3 convention), so
    * the full merge SEQUENCE — including ties broken and merges of earlier
    * merges — is hash-compared, not just round 1. */
  private val tx12b: Q = (s, d) =>
    s.createDataFrame(corpusMerges(s, d))
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .orderBy(col("round"))

  /** TX12C — BPE ENCODING of the corpus under the tx12b-trained merges:
    * per doc, words / characters / resulting symbol count. The oracle
    * re-derives the merge layers AND the encode in one statement, so the
    * apply path is held to the training path it claims to use. */
  private val tx12c: Q = (s, d) =>
    bpeEncode(Tables.documents(s, d), corpusMerges(s, d))

  /** tx12b's oracle: the merge loop UNROLLED as CTE layers (the g3
    * convention) — per round, the same pair count over the symbolized
    * vocab, the same (cnt DESC, a, b) argmax, the same pipe-delimited
    * replace. Generated from [[BpeMergeRounds]] so Spark and SQL can never
    * disagree on R. */
  private def bpeMergesSql(rounds: Int): String = {
    val layers = (1 to rounds).map { r =>
      s""" s$r AS (SELECT string_split(substr(wrapped, 2, length(wrapped)-2), '||') AS syms, wf FROM v${r - 1}),
         | p$r AS (SELECT syms[i+1] AS a, syms[i+2] AS b, CAST(sum(wf) AS BIGINT) AS cnt
         |   FROM s$r, UNNEST(range(len(syms)-1)) AS r(i) GROUP BY 1, 2),
         | t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         | v$r AS (SELECT replace(wrapped, '|'||t.a||'||'||t.b||'|', '|'||t.a||t.b||'|') AS wrapped, wf
         |   FROM v${r - 1}, t$r t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM t$r")
      .mkString(" UNION ALL ")
    s"""WITH w0 AS (SELECT unnest($toksSql) AS w FROM documents),
       | wf0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM w0 GROUP BY 1),
       | v0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS wrapped, wf FROM wf0),
       |$layers
       | SELECT * FROM ($union) ORDER BY round""".stripMargin
  }

  /** tx12c's oracle: the SAME training layers (t1..tR) followed by the
    * encode — each doc word wrapped, the R merges applied in training
    * order, symbols counted as pipes/2. */
  private def bpeEncodeSql(rounds: Int): String = {
    val layers = (1 to rounds).map { r =>
      s""" s$r AS (SELECT string_split(substr(wrapped, 2, length(wrapped)-2), '||') AS syms, wf FROM v${r - 1}),
         | p$r AS (SELECT syms[i+1] AS a, syms[i+2] AS b, CAST(sum(wf) AS BIGINT) AS cnt
         |   FROM s$r, UNNEST(range(len(syms)-1)) AS r(i) GROUP BY 1, 2),
         | t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         | v$r AS (SELECT replace(wrapped, '|'||t.a||'||'||t.b||'|', '|'||t.a||t.b||'|') AS wrapped, wf
         |   FROM v${r - 1}, t$r t)""".stripMargin
    }.mkString(",\n")
    // LEFT JOIN ON TRUE + coalesce: if the merge loop exhausts before
    // `rounds` (every word one symbol), t$r is empty — the encode layer
    // must pass `wrapped` through unchanged, not collapse to zero rows
    // (ADVICE r11: the Spark side early-stops over the realized merge
    // list, so an inner join here would silently diverge the gate).
    val encLayers = (1 to rounds).map { r =>
      s""" enc$r AS (SELECT doc_id, w,
         |   coalesce(replace(wrapped, '|'||t.a||'||'||t.b||'|', '|'||t.a||t.b||'|'), wrapped) AS wrapped
         |   FROM enc${r - 1} LEFT JOIN t$r t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (SELECT unnest($toksSql) AS w FROM documents),
       | wf0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM w0 GROUP BY 1),
       | v0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS wrapped, wf FROM wf0),
       |$layers,
       | enc0 AS (SELECT doc_id, t.w AS w,
       |     regexp_replace(t.w, '(.)', '|\\1|', 'g') AS wrapped
       |   FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS t(w)),
       |$encLayers
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |   CAST(sum(length(w)) AS BIGINT) AS n_chars,
       |   CAST(sum((length(wrapped) - length(replace(wrapped, '|', ''))) // 2) AS BIGINT) AS n_symbols
       | FROM enc$rounds GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** tx11 thresholds — tuned on the corpus feature distributions so every
    * rule actually fires on some docs (dominance > 1500 bp: ~8%; diversity
    * < 3500 bp and length geometry: tails; < 20 tokens: ~9%). */
  private[graft] val RuleMaxTopBp = 1500L
  private[graft] val RuleMinDistinctBp = 3500L
  private[graft] val RuleMinTokens = 20L
  private[graft] val RuleLenLoMilli = 3800L
  private[graft] val RuleLenHiMilli = 5200L

  /** tx11's core over any documents frame — exposed for the spec's planted
    * hand-check. */
  private[graft] def ruleGate(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      // feature pass SEPARATED from the scaled-ratio pass (r13, guide §4):
      // ExactRatio.scaled references its num ~5× and den ~8×, and building
      // the ratios inline duplicated every interpreted token HOF that many
      // times per row (measured: the whole gate was 3× the one-evaluation
      // cost at sf10). CollapseProject will not merge the projections
      // because the aliases are non-cheap expressions referenced more than
      // once, so each feature is evaluated exactly once.
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        // max term multiplicity via longest run in the SORTED token array —
        // same integer as the old per-distinct-token count-then-max
        // (equal tokens sort adjacent; run lengths ARE the multiplicities),
        // at O(n log n) instead of O(distinct·n) per row (measured 2.1 s
        // vs 4.5 s at sf10). Empty arrays: 0 here vs NULL before — both
        // feed scaled() with den = 0, which yields 0 either way.
        aggregate(array_sort(col("tk")),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"),
              acc.getField("run") + 1L).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best")).as("top_cnt"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
        aggregate(col("tk"), lit(0L), (acc, t) => acc + length(t)).as("len_sum"))
      .select(col("doc_id"), col("n_tokens"),
        ExactRatio.scaled(col("top_cnt"), col("n_tokens"), 10000L)
          .as("top_share_bp"),
        ExactRatio.scaled(col("n_distinct"), col("n_tokens"), 10000L)
          .as("distinct_ratio_bp"),
        ExactRatio.scaled(col("len_sum"), col("n_tokens"), 1000L)
          .as("mean_len_milli"))
      .withColumn("reasons",
        when(col("top_share_bp") > RuleMaxTopBp, 1L).otherwise(0L) +
          when(col("distinct_ratio_bp") < RuleMinDistinctBp, 2L).otherwise(0L) +
          when(col("n_tokens") < RuleMinTokens, 4L).otherwise(0L) +
          when(col("mean_len_milli") < RuleLenLoMilli ||
            col("mean_len_milli") > RuleLenHiMilli, 8L).otherwise(0L))
      .withColumn("keep", col("reasons") === 0L)
      .orderBy(col("doc_id"))

  /** TX11 — RULE-GATE battery with an EXPLAINABLE verdict: the C4/Gopher-
    * style repetition-and-shape filters tx2's weighted score does not
    * cover — single-token dominance (max term share), type/token diversity,
    * minimum length, and word-length geometry — each rule a bit in a
    * `reasons` bitmask so a rejected doc says WHY (the thing a production
    * filter pass needs for audits and threshold tuning; a scalar score
    * can't be decomposed after the fact). Entirely row-local HOFs over the
    * token array — one scan, no shuffle beyond the presentation sort; the
    * dominance feature is O(distinct·n) per row, bounded by doc length. */
  private val tx11: Q = (s, d) => ruleGate(Tables.documents(s, d))

  /** px19 histogram geometry: 10-token bins clamped at bin 50 — ≤ 51
    * histogram rows no matter the corpus (a22's boundedness argument). */
  private[graft] val CurBinTokens = 10L
  private[graft] val CurMaxBin = 50L

  /** px19's core over any documents frame — exposed for the spec's
    * independent recomputation of the defining equation. */
  private[graft] def curriculum(docs: DataFrame): DataFrame = {
    val binned = docs
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bin",
        least(call_function("div", col("n_tokens"), lit(CurBinTokens)), lit(CurMaxBin)))
    val hist = binned.groupBy(col("bin")).agg(count(lit(1)).as("n"))
    // prefix counts by triangle self-join over the ≤ 51-row histogram —
    // no window (so no single-partition WindowExec anywhere), bounded by
    // geometry, never by data
    val cum = hist.as("a")
      .join(hist.as("p"), col("p.bin") < col("a.bin"), "left")
      .groupBy(col("a.bin").as("bin"))
      .agg(coalesce(sum(col("p.n")), lit(0L)).as("cum_before"))
    val tot = hist.agg(sum(col("n")).as("tot"))
    binned.join(broadcast(cum), Seq("bin"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("bin"),
        least(lit(9L), call_function("div",
          lit(10L) * col("cum_before"), col("tot"))).as("decile"))
      .orderBy(col("doc_id"))
  }

  /** PX19 — CURRICULUM / LENGTH-DECILE ASSIGNMENT WITHOUT A GLOBAL SORT:
    * give every doc its global length percentile stage, the assignment a
    * curriculum or length-bucketed packing pass needs. The naive form is
    * a corpus-wide rank — a full sort of 100 TB; instead, bin lengths
    * into a clamped fixed-width histogram (≤ [[CurMaxBin]]+1 rows —
    * kilobytes, the a22 boundedness trick), take prefix counts over THAT,
    * and broadcast-join the per-bin decile back to the corpus: one tiny
    * aggregation + one map-side join, same answer at bin resolution, and
    * the histogram is mergeable across shards/days for free. */
  private val px19: Q = (s, d) => curriculum(Tables.documents(s, d))

  /** tx13's phrase parameters — both parameterizations gate the SAME core
    * (p3/w7 convention); chosen to be non-empty at every test scale. */
  private[graft] val Phrase2 = Seq("the", "table")
  private[graft] val Phrase3 = Seq("big", "order", "scan")

  /** TX13's core — POSITIONAL-INDEX PHRASE SEARCH over any documents
    * frame: find exact phrase occurrences by joining query-term postings
    * on anchored positions (term i at pos p−i), the classic positional
    * inverted-index plan. Scale shape: postings are pruned to the query
    * terms BEFORE any shuffle (tx8's explode-then-filter trick), so every
    * join runs at query-term posting grain — the naive alternative scans
    * and substring-matches 100 TB of text per query; this touches only
    * the matching terms' positions. */
  private[graft] def phraseSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val post = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isInCollection(terms))
    val first = post.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("pos"))
    val matched = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      val p = post.filter(col("tok") === t)
        .select(col("doc_id"), (col("pos") - i).as("pos"))
      acc.join(p, Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  private val tx13: Q = (s, d) => phraseSearch(Tables.documents(s, d), Phrase2)
  private val tx13b: Q = (s, d) => phraseSearch(Tables.documents(s, d), Phrase3)

  /** The POSITIONAL POSTINGS relation (tok, doc_id, pos) — the persisted
    * index behind tx13c (VERDICT r11 missing #2: tx13 re-derives term
    * positions from the corpus per query; tx16c/d9/IVF all have
    * persistable, admittable twins — this is phrase search's). Extraction
    * is ROW-LOCAL (posexplode of the token array), so the build is one
    * corpus pass with no cross-row state, and admitting a batch
    * ([[appendPositionalPostings]]) explodes ONLY the batch and appends —
    * postings rows are per-doc facts, union IS the merge, incremental ≡
    * one-shot as a set identity (spec law; (tok, doc_id, pos) rows are
    * unique because pos is unique per doc). Persisted BUCKETED by tok: a
    * probe's term filter prunes to the query terms' buckets without a
    * shuffle (BucketingSpec). */
  private[graft] def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .select(col("tok"), col("doc_id"), col("pos"))

  /** The corpus positional postings as a memoized shared core (the
    * tri_postings contract — build once, probe many; parquet-backed like
    * tri_postings — token-grain relations are index-sized and columnar
    * encoding beats a serialized-row checkpoint ~5–10×). */
  private[graft] def positionalPostingsFor(s: SparkSession, d: String): DataFrame =
    graft.Memo.cachedParquet(s, d, "pos_postings", "documents.parquet")(
      positionalPostings(Tables.documents(s, d)))

  /** Admit a batch of new documents into a stored positional postings
    * relation: explode the BATCH only, append (the appendPostings shape
    * at (term, position) grain). */
  private[graft] def appendPositionalPostings(stored: DataFrame,
                                              batch: DataFrame): DataFrame =
    stored.unionByName(positionalPostings(batch))

  /** TX13C — PHRASE SEARCH AGAINST THE POSTINGS INDEX. Where the fused
    * tx13 chains k−1 anchored joins (k−1 shuffles at query-term posting
    * grain), the index probe COLLAPSES the chain into one aggregation —
    * the tx16c trick at position grain, and here it is EXACT, not just a
    * candidacy filter: each query-term occurrence votes for the anchors
    * it could start (slot s of the phrase at position p anchors p−s; a
    * term repeated in the phrase votes once per slot), and an anchor with
    * all k slots voting IS a phrase occurrence — (doc, anchor, slot) is
    * unique by construction, so count(*) = distinct slots. One
    * (doc, anchor)-grain count shuffle over Σ df(term) probed rows — the
    * probed lists themselves, never the corpus, never any document text —
    * then the doc-grain rollup. At 100 TB the index is bucketed by tok:
    * the probe reads k bucket slices, two keyed shuffles, no verify pass.
    * Output ≡ tx13 row-for-row (spec + the shared oracle). */
  private[graft] def phraseSearchPostings(postings: DataFrame,
                                          terms: Seq[String]): DataFrame = {
    val k = terms.size
    val slotsByTok: Map[String, Seq[Int]] =
      terms.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    postings
      .filter(col("tok").isInCollection(terms))
      .select(col("doc_id"), col("pos"),
        explode(element_at(typedlit(slotsByTok), col("tok"))).as("slot"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"))
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === k.toLong)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  private val tx13c: Q = (s, d) =>
    phraseSearchPostings(positionalPostingsFor(s, d), Phrase2)
  private val tx13c3: Q = (s, d) =>
    phraseSearchPostings(positionalPostingsFor(s, d), Phrase3)

  /** tx13's oracle for a phrase — generated from the same term Seq as the
    * Spark side so the two parameterizations cannot drift. */
  private def phraseSql(terms: Seq[String]): String = {
    val chain = terms.zipWithIndex.tail.map { case (t, i) =>
      s"JOIN p p$i ON p$i.doc_id = q.doc_id AND p$i.pos = q.pos + $i AND p$i.tok = '$t'"
    }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       | p AS (SELECT doc_id, unnest(tk) AS tok,
       |     generate_subscripts(tk, 1) AS pos FROM t),
       | q AS (SELECT doc_id, pos FROM p WHERE tok = '${terms.head}')
       | SELECT q.doc_id, CAST(count(*) AS BIGINT) AS n_matches
       | FROM q $chain GROUP BY 1 ORDER BY q.doc_id""".stripMargin
  }

  /** px21's per-stratum sample sizes (two gated parameterizations per the
    * p3/w7 convention) — below the smallest stratum in the testdata so the
    * draw is a genuine subsample, not the whole stratum. */
  private[graft] val StratumK = 10L
  private[graft] val StratumK2 = 3L

  /** PX21 — EXACT-K STRATIFIED SAMPLE: exactly min(k, |stratum|) documents
    * per source, deterministically — the eval-set construction primitive
    * (px2's rate-based sampling yields a BINOMIAL size; audits and evals
    * need an exact count). The "random" order is the md5 of a salted doc
    * id, so the draw is reproducible, portable across engines, and
    * independent of ingestion order; the rank is a per-stratum window —
    * strata partition the corpus, so no global sort, and at 100 TB each
    * stratum sorts independently (skewed strata salt like any skewed
    * window). Rank ties are impossible (doc_id tie-break → total order). */
  private def px21Of(k: Long): Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("hkey",
        md5(concat(lit("px21:"), col("doc_id").cast("string"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }
  private val px21 = px21Of(StratumK)
  private val px21b = px21Of(StratumK2)

  /** tx15's monitored vocabulary size, and the χ²(1 df, α=0.05) critical
    * value milli-scaled (3.841 × 1000). */
  private[graft] val DriftVocabK = 50
  private[graft] val Chi2CritMilli = 3841L

  /** tx15's core over any (doc_id, epoch ∈ {0,1}, text) frame — exposed
    * for the spec's planted-shift fixture. One term-grain shuffle for the
    * epoch-split document frequencies; the vocabulary selection is a
    * TakeOrdered top-K (per-partition heads merge on the driver — never a
    * global sort or window); the χ² itself is row-local over K rows.
    * Exactness bound: the 38-digit numerator N·(ad−bc)² stays exact up to
    * N ≈ 3·10⁷ docs per comparison — past that, drift-monitor on a
    * deterministic hash sample (px2), where statistical power at 10⁷ docs
    * is already overwhelming. */
  private[graft] def vocabDriftOf(docs: DataFrame): DataFrame = {
    val D38 = "decimal(38,0)"
    val dt = docs.select(col("doc_id"), col("epoch"),
      explode(array_distinct(toks(col("text")))).as("term"))
    val dfp = dt.groupBy(col("term")).agg(
      sum(when(col("epoch") === 0L, 1L).otherwise(0L)).as("df_a"),
      sum(when(col("epoch") === 1L, 1L).otherwise(0L)).as("df_b"))
    val vocab = dfp
      .orderBy((col("df_a") + col("df_b")).desc, col("term"))
      .limit(DriftVocabK)
    val totals = docs.agg(
      sum(when(col("epoch") === 0L, 1L).otherwise(0L)).as("n_a_docs"),
      sum(when(col("epoch") === 1L, 1L).otherwise(0L)).as("n_b_docs"))
    val a = col("df_a").cast(D38)
    val b = col("df_b").cast(D38)
    val c = (col("n_a_docs") - col("df_a")).cast(D38)
    val dd = (col("n_b_docs") - col("df_b")).cast(D38)
    val nn = (col("n_a_docs") + col("n_b_docs")).cast(D38)
    val num = nn * (a * dd - b * c) * (a * dd - b * c)
    val den = (a + b) * (c + dd) * (a + c) * (b + dd)
    vocab.crossJoin(broadcast(totals))
      .withColumn("chi2_milli", graft.functions.ExactRatio.scaled(num, den, 1000L))
      // exact decision by cross-multiplication — no rounding at the boundary
      .withColumn("drifted",
        when(num * lit(1000L) > den * lit(Chi2CritMilli), 1L).otherwise(0L))
      .select(col("term"), col("df_a"), col("df_b"),
        col("chi2_milli"), col("drifted"))
      .orderBy(col("chi2_milli").desc, col("term"))
  }

  /** TX15 — VOCABULARY DRIFT: distribution-shift monitoring between two
    * deterministic corpus halves (md5 parity of doc_id — in production,
    * two ingest epochs). For each top-[[DriftVocabK]]-df term, a 2×2
    * contingency (present/absent × epoch) χ² with Yates-free exact
    * integer arithmetic: χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)),
    * milli-scaled via [[ExactRatio]] so both engines agree bit-for-bit
    * where float χ² drifts (pr5's z-test discipline on a second table
    * shape). A drifted flag means that term's document frequency shifted
    * more than chance at 95% — the canary for silent scraper changes,
    * template floods, or language-mix regressions between training runs. */
  private val tx15: Q = (s, d) => vocabDriftOf(
    Tables.documents(s, d).withColumn("epoch",
      when(substring(md5(concat(lit("tx15:"), col("doc_id").cast("string"))),
        1, 1) < "8", 0L).otherwise(1L)))

  /** px20's shard count — small here; at 100 TB this is the data-loader's
    * reader parallelism (thousands), and the design is shard-count-free:
    * work per shard is 1/nShards of the corpus either way. */
  private[graft] val ShuffleShards = 4

  /** px20's core for any documents frame + epoch — exposed for the spec's
    * permutation / epoch-decorrelation drives. */
  private[graft] def epochShuffle(docs: DataFrame, epoch: Int): DataFrame = {
    val key = md5(concat_ws(":", lit("epoch"), lit(epoch),
      col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      // md5 keys are unique for distinct doc_ids in any real corpus, but
      // the gate hashes values bit-for-bit — tie-break to a TOTAL order
      .orderBy(col("key"), col("doc_id"))
    docs
      .select(col("doc_id"), key.as("key"))
      .withColumn("shard",
        ((expr("instr('0123456789abcdef', substring(key, 1, 1))") - 1)
          % ShuffleShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** PX20 — DETERMINISTIC EPOCH SHUFFLE: the training data loader's
    * permutation as a query. Each document draws a pseudorandom key
    * md5(epoch:doc_id), lands in a shard by the key's first hex digit,
    * and takes its within-shard rank as the read position. Deterministic
    * (same epoch ⇒ byte-identical order: resumable training, reproducible
    * runs) yet decorrelated across epochs (different epoch ⇒ an unrelated
    * permutation — no stale curriculum). Scale shape: NO GLOBAL SORT —
    * the only ordering is a per-shard window, exactly the per-reader-file
    * sort a 1000-shard writer does; shards map 1:1 to output files and
    * each holds ~1/nShards of the corpus by md5 uniformity. */
  private val px20: Q = (s, d) => epochShuffle(Tables.documents(s, d), 1)
  private val px20b: Q = (s, d) => epochShuffle(Tables.documents(s, d), 2)

  /** px20's oracle for an epoch — generated from the same constants as the
    * Spark side so the parameterizations cannot drift. */
  private def epochShuffleSql(epoch: Int): String =
    s"""WITH k AS (SELECT doc_id,
       |     md5('epoch:$epoch:' || CAST(doc_id AS VARCHAR)) AS key
       |   FROM documents),
       | s AS (SELECT doc_id, key,
       |   CAST((instr('0123456789abcdef', substring(key, 1, 1)) - 1)
       |     % $ShuffleShards AS BIGINT) AS shard FROM k)
       | SELECT doc_id, shard,
       |   CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
       |     AS BIGINT) AS pos
       | FROM s ORDER BY shard, pos""".stripMargin

  val queries: Map[String, Q] = Map(
    "px20_epoch_shuffle" -> px20,
    "px20_epoch2" -> px20b,
    "tx14_cooccur_lift" -> tx14,
    "tx15_vocab_drift" -> tx15,
    "px21_exact_sample" -> px21,
    "px21_sample3" -> px21b,
    "tx13_phrase" -> tx13,
    "tx13_phrase3" -> tx13b,
    "tx13c_phrase_postings" -> tx13c,
    "tx13c_phrase3_postings" -> tx13c3,
    "px19_curriculum" -> px19,
    "tx11_rule_gate" -> tx11,
    "tx12_bpe_pairs" -> tx12,
    "tx12b_bpe_merges" -> tx12b,
    "tx12c_bpe_encode" -> tx12c,
    "tx12d_bpe_batched" -> tx12d,
    "tx12e_bpe_batched_exact" -> tx12e,
    "px13_novelty" -> px13,
    "px15_best_of_cluster" -> px15,
    "px16_quality_prep" -> px16,
    "px12_chunking" -> px12,
    "px11_sequence_pack" -> px11,
    "px10_group_split" -> px10,
    "px6_mixture_sample" -> px6,
    "px9_temperature_mix" -> px9,
    "px7_pii_redact" -> px7,
    "tx1_token_stats" -> tx1,
    "tx5_vocab" -> tx5,
    "tx6_bigram_fluency" -> tx6,
    "tx7_repetition" -> tx7,
    "px1_corpus_prep" -> px1,
    "px5_canonical_prep" -> px5,
    "px2_stratified_sample" -> px2,
    "px3_token_budget" -> px3,
    "px23_weighted_sample" -> px23,
    "px24_upsample" -> px24,
    "tx2_quality_score" -> tx2,
    "tx3_langid" -> tx3,
    "tx4_fingerprint" -> tx4
  )

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(tk, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  private val langidCaseSql: String = {
    val langs = stopwords.map(_._1)
    val arms = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(r => s"c_$l >= c_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** DuckDB mirror of [[QF]]: CTE body yielding (doc_id, n, l, p, s). */
  private def qfSql(where: String = ""): String =
    s"""SELECT doc_id, len(tk) AS n, len(text) AS l,
       |   (len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS p,
       |   ${hitsSql(stopwords.head._2)} AS s
       |  FROM (SELECT doc_id, text, $toksSql AS tk FROM documents$where)""".stripMargin

  /** DuckDB mirror of [[qualityBp]] (expects n, l, p, s in scope). */
  private val qualityBpSql: String = ExactRatio.scaledSql(
    "4 * least(100, n) * l * n + 300 * (l - p) * n + 300 * s * l",
    "1000 * l * n", 10000L)

  private val bigramsSql =
    """CASE WHEN len(tk) >= 2
      | THEN list_transform(range(len(tk)-1), i -> tk[i+1] || ' ' || tk[i+2])
      | ELSE [array_to_string(tk, ' ')] END""".stripMargin

  private val shinglesDupSql =
    """CASE WHEN len(tk) >= 3
      | THEN list_transform(range(len(tk)-2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
      | ELSE [array_to_string(tk, ' ')] END""".stripMargin

  private val bucket256Sql =
    """16 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) +
      |   (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)""".stripMargin

  /** px15's oracle, factored so px16 can nest the keep set. */
  private lazy val px15Sql: String =
    s"""WITH j AS (SELECT c.cluster_id, q.doc_id, q.quality_bp
       |   FROM (${graft.operators.Dedup.oracles("d6_neardup_clusters")}) c
       |   JOIN (SELECT doc_id, $qualityBpSql AS quality_bp
       |         FROM (${qfSql()}) m) q
       |     ON c.doc_id = q.doc_id),
       | r AS (SELECT cluster_id, doc_id, quality_bp,
       |     row_number() OVER (PARTITION BY cluster_id
       |       ORDER BY quality_bp DESC, doc_id) AS rn,
       |     count(*) OVER (PARTITION BY cluster_id) AS n_members FROM j)
       | SELECT cluster_id, doc_id AS keep_id,
       |   CAST(n_members AS BIGINT) AS n_members,
       |   quality_bp AS best_quality_bp
       | FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  private val chi2NumSql = "nn * (a*dd - b*c) * (a*dd - b*c)"
  private val chi2DenSql = "(a+b) * (c+dd) * (a+c) * (b+dd)"

  private def px21SqlOf(k: Long): String =
    s"""WITH h AS (SELECT doc_id, source,
       |     md5('px21:' || CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
       | r AS (SELECT doc_id, source,
       |     CAST(row_number() OVER (PARTITION BY source
       |       ORDER BY hkey, doc_id) AS BIGINT) AS rank FROM h)
       | SELECT doc_id, source, rank FROM r WHERE rank <= $k
       | ORDER BY source, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "tx15_vocab_drift" ->
      s"""WITH d0 AS (SELECT doc_id, text,
         |     CASE WHEN substring(md5('tx15:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
         |          THEN 0 ELSE 1 END AS epoch FROM documents),
         | dt AS (SELECT doc_id, epoch, unnest(list_distinct($toksSql)) AS term FROM d0),
         | dfp AS (SELECT term,
         |     CAST(sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
         |     CAST(sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS df_b
         |   FROM dt GROUP BY 1),
         | vocab AS (SELECT * FROM dfp ORDER BY (df_a + df_b) DESC, term LIMIT $DriftVocabK),
         | tot AS (SELECT sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS n_a_docs,
         |                sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS n_b_docs FROM d0),
         | x AS (SELECT term, df_a, df_b,
         |     CAST(df_a AS HUGEINT) AS a, CAST(df_b AS HUGEINT) AS b,
         |     CAST(n_a_docs - df_a AS HUGEINT) AS c,
         |     CAST(n_b_docs - df_b AS HUGEINT) AS dd,
         |     CAST(n_a_docs + n_b_docs AS HUGEINT) AS nn
         |   FROM vocab, tot)
         | SELECT term, df_a, df_b,
         |   ${graft.functions.ExactRatio.scaledSql(chi2NumSql, chi2DenSql, 1000L)} AS chi2_milli,
         |   CAST(CASE WHEN $chi2NumSql * 1000 > $Chi2CritMilli * $chi2DenSql
         |        THEN 1 ELSE 0 END AS BIGINT) AS drifted
         | FROM x ORDER BY chi2_milli DESC, term""".stripMargin,
    "px21_exact_sample" -> px21SqlOf(StratumK),
    "px21_sample3" -> px21SqlOf(StratumK2),
    "tx14_cooccur_lift" ->
      s"""WITH dt AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS term
         |   FROM documents),
         | vocab AS (SELECT term, count(*) AS df FROM dt GROUP BY 1
         |   ORDER BY df DESC, term LIMIT $LiftVocab),
         | dv AS (SELECT dt.doc_id, dt.term, v.df FROM dt JOIN vocab v USING (term)),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | p AS (SELECT a.term AS t1, b.term AS t2, a.df AS n_a, b.df AS n_b,
         |     count(*) AS n_ab
         |   FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.term < b.term
         |   GROUP BY 1, 2, 3, 4),
         | r AS (SELECT t1, t2, n_ab, n_a, n_b,
         |     ${graft.functions.ExactRatio.scaledSql(
                 "n_ab * n_docs", "n_a * n_b", 1000L)} AS lift_milli,
         |     CAST(row_number() OVER (ORDER BY n_ab DESC, t1, t2) AS BIGINT) AS rnk
         |   FROM p, nn)
         | SELECT t1, t2, n_ab, n_a, n_b, lift_milli, rnk FROM r
         | WHERE rnk <= $LiftTopK ORDER BY rnk""".stripMargin,
    "px20_epoch_shuffle" -> epochShuffleSql(1),
    "px20_epoch2" -> epochShuffleSql(2),
    "tx13_phrase" -> phraseSql(Phrase2),
    "tx13_phrase3" -> phraseSql(Phrase3),
    // the postings probe answers the SAME question as the fused form —
    // one oracle text per parameterization holds both to one truth
    "tx13c_phrase_postings" -> phraseSql(Phrase2),
    "tx13c_phrase3_postings" -> phraseSql(Phrase3),
    "px19_curriculum" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |   FROM documents),
         | b AS (SELECT doc_id, n_tokens,
         |     least(n_tokens // $CurBinTokens, $CurMaxBin) AS bin FROM t),
         | h AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
         | c AS (SELECT a.bin, coalesce(sum(p.n), 0) AS cum_before
         |   FROM h a LEFT JOIN h p ON p.bin < a.bin GROUP BY a.bin),
         | tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h)
         | SELECT b.doc_id, b.n_tokens, CAST(b.bin AS BIGINT) AS bin,
         |   CAST(least(9, (10 * c.cum_before) // tot.tot) AS BIGINT) AS decile
         | FROM b JOIN c ON b.bin = c.bin, tot ORDER BY b.doc_id""".stripMargin,
    "tx11_rule_gate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         | f AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |   ${ExactRatio.scaledSql(
              "list_max(list_transform(list_distinct(tk), u -> len(list_filter(tk, x -> x = u))))",
              "len(tk)", 10000L)} AS top_share_bp,
         |   ${ExactRatio.scaledSql("len(list_distinct(tk))", "len(tk)", 10000L)} AS distinct_ratio_bp,
         |   ${ExactRatio.scaledSql("list_sum(list_transform(tk, x -> len(x)))",
              "len(tk)", 1000L)} AS mean_len_milli
         |  FROM t),
         | r AS (SELECT *,
         |   (CASE WHEN top_share_bp > $RuleMaxTopBp THEN 1 ELSE 0 END +
         |    CASE WHEN distinct_ratio_bp < $RuleMinDistinctBp THEN 2 ELSE 0 END +
         |    CASE WHEN n_tokens < $RuleMinTokens THEN 4 ELSE 0 END +
         |    CASE WHEN mean_len_milli < $RuleLenLoMilli
         |      OR mean_len_milli > $RuleLenHiMilli THEN 8 ELSE 0 END) AS rs
         |  FROM f)
         | SELECT doc_id, n_tokens, top_share_bp, distinct_ratio_bp,
         |   mean_len_milli, CAST(rs AS BIGINT) AS reasons, rs = 0 AS keep
         | FROM r ORDER BY doc_id""".stripMargin,
    "tx12b_bpe_merges" -> bpeMergesSql(BpeMergeRounds),
    "tx12c_bpe_encode" -> bpeEncodeSql(BpeMergeRounds),
    "tx12d_bpe_batched" ->
      bpeBatchedSql(BpeBatchRounds, BpeBatchTop, BpeBatchScan, strict = false),
    "tx12e_bpe_batched_exact" ->
      bpeBatchedSql(BpeBatchRounds, BpeBatchTop, BpeBatchScan, strict = true),
    "tx12_bpe_pairs" ->
      s"""WITH w0 AS (SELECT unnest($toksSql) AS w FROM documents),
         | wf AS (SELECT w, count(*) AS wf FROM w0 GROUP BY 1),
         | p AS (SELECT wf, unnest(list_transform(range(len(w)-1),
         |     i -> substring(w, i+1, 1) || substring(w, i+2, 1))) AS pair
         |   FROM wf WHERE len(w) >= 2)
         | SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count
         | FROM p GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT $BpeTop""".stripMargin,
    "px15_best_of_cluster" -> px15Sql,
    "px16_quality_prep" ->
      s"""WITH keeps AS (SELECT keep_id AS doc_id FROM ($px15Sql)),
         | m0 AS (${qfSql(" WHERE lang = 'en'")}),
         | m AS (SELECT doc_id, n AS n_tokens, $qualityBpSql AS quality_bp FROM m0)
         | SELECT m.doc_id, m.n_tokens, m.quality_bp
         | FROM m JOIN keeps ON m.doc_id = keeps.doc_id
         | WHERE m.quality_bp >= 5500 ORDER BY m.doc_id""".stripMargin,
    "px7_pii_redact" ->
      s"""WITH a AS (SELECT doc_id,
         |   CASE WHEN doc_id % 3 = 0 THEN text
         |   ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
         |     || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |     || '.7 call +1-555-01' || CAST(doc_id % 90 + 10 AS VARCHAR)
         |   END AS txt FROM documents)
         | SELECT doc_id,
         |   CAST(len(regexp_extract_all(txt, '$EmailRe')) AS BIGINT) AS n_email,
         |   CAST(len(regexp_extract_all(txt, '$Ipv4Re')) AS BIGINT) AS n_ip,
         |   CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phone,
         |   md5(regexp_replace(regexp_replace(regexp_replace(txt,
         |     '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
         |     '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         | FROM a ORDER BY doc_id""".stripMargin,
    "px6_mixture_sample" ->
      s"""WITH per AS (SELECT source, count(*) AS n_s,
         |   CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 3 ELSE 1 END AS w
         |  FROM documents GROUP BY 1),
         | tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total, CAST(sum(w) AS BIGINT) AS w_sum FROM per),
         | rates AS (SELECT source,
         |   CAST(least(256, (256 * n_total * w) // (2 * w_sum * n_s)) AS BIGINT) AS rate_256
         |  FROM per, tot),
         | b AS (SELECT doc_id, source, $bucket256Sql AS bucket FROM documents)
         | SELECT b.doc_id, b.source, rates.rate_256
         | FROM b JOIN rates ON b.source = rates.source
         | WHERE b.bucket < rates.rate_256 ORDER BY b.doc_id""".stripMargin,
    "px9_temperature_mix" ->
      s"""WITH per AS (SELECT source, count(*) AS n_s,
         |   CAST(floor(sqrt(n_s) * 1000) AS BIGINT) AS w_milli
         |  FROM documents GROUP BY 1),
         | tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
         |   CAST(sum(w_milli) AS BIGINT) AS wm_sum FROM per),
         | rates AS (SELECT source,
         |   CAST(least(256, (256 * CAST(n_total // 2 AS HUGEINT) * w_milli) //
         |     (wm_sum * CAST(n_s AS HUGEINT))) AS BIGINT) AS rate_256
         |  FROM per, tot),
         | b AS (SELECT doc_id, source, $bucket256Sql AS bucket FROM documents)
         | SELECT b.doc_id, b.source, rates.rate_256
         | FROM b JOIN rates ON b.source = rates.source
         | WHERE b.bucket < rates.rate_256 ORDER BY b.doc_id""".stripMargin,
    "px13_novelty" ->
      s"""WITH tk0 AS (SELECT doc_id, $toksSql AS tk FROM documents),
         | shd AS (SELECT doc_id, unnest($shinglesSql) AS sh FROM tk0),
         | dfq AS (SELECT sh, count(*) AS n_docs FROM shd GROUP BY 1),
         | j AS (SELECT shd.doc_id, dfq.n_docs FROM shd JOIN dfq ON shd.sh = dfq.sh)
         | SELECT doc_id, count(*) AS n_shingles,
         |   CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |   ${ExactRatio.scaledSql(
                "sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)", "count(*)", 10000L)} AS derivative_bp
         | FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "px12_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         | n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM t),
         | g AS (SELECT doc_id, tk,
         |   unnest(range(0, (greatest(n_tokens - $ChunkTokens, 0) + ${ChunkStride - 1})
         |     // $ChunkStride + 1)) AS cidx
         |  FROM n)
         | SELECT doc_id, CAST(cidx AS BIGINT) AS chunk_idx,
         |   CAST(len(list_slice(tk, cidx * $ChunkStride + 1,
         |     cidx * $ChunkStride + $ChunkTokens)) AS BIGINT) AS chunk_tokens,
         |   md5(array_to_string(list_slice(tk, cidx * $ChunkStride + 1,
         |     cidx * $ChunkStride + $ChunkTokens), ' ')) AS chunk_md5
         | FROM g ORDER BY doc_id, chunk_idx""".stripMargin,
    "px11_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |   FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS stream_end
         |  FROM t)
         | SELECT doc_id, source, n_tokens,
         |   stream_end - n_tokens AS start_offset,
         |   (stream_end - n_tokens) // $PackBudget AS bin_idx
         | FROM c ORDER BY source, doc_id""".stripMargin,
    "px10_group_split" ->
      """WITH g AS (SELECT doc_id, md5(text) AS group_key FROM documents),
        | b AS (SELECT doc_id, group_key,
        |   16 * (instr('0123456789abcdef', substring(md5(group_key), 1, 1)) - 1) +
        |   (instr('0123456789abcdef', substring(md5(group_key), 2, 1)) - 1) AS bucket
        |  FROM g)
        | SELECT doc_id, group_key,
        |   CASE WHEN bucket < 205 THEN 'train'
        |        WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
        | FROM b ORDER BY doc_id""".stripMargin,
    "px2_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |   16 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) +
        |   (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        |  FROM documents)
        | SELECT doc_id, lang, bucket FROM b
        | WHERE bucket < CASE WHEN lang = 'en' THEN 205 ELSE 77 END
        | ORDER BY doc_id""".stripMargin,
    "px3_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source, len($toksSql) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t)
         | SELECT doc_id, source, n_tokens, cum_tokens FROM c
         | WHERE cum_tokens <= 2000 ORDER BY source, doc_id""".stripMargin,
    "tx6_bigram_fluency" ->
      s"""WITH e AS (SELECT doc_id, unnest($bigramsSql) AS bigram
         |   FROM (SELECT doc_id, $toksSql AS tk FROM documents)),
         | c AS (SELECT bigram, count(*) AS bg_count FROM e GROUP BY 1),
         | j AS (SELECT e.doc_id, CAST(sum(c.bg_count) AS BIGINT) AS sum_c, count(*) AS n_bg
         |   FROM e JOIN c ON e.bigram = c.bigram GROUP BY 1)
         | SELECT doc_id, n_bg,
         |   ${ExactRatio.scaledSql("sum_c", "n_bg", 1000L)} AS fluency_milli
         | FROM j ORDER BY doc_id""".stripMargin,
    "tx7_repetition" ->
      s"""WITH e AS (SELECT doc_id, unnest($shinglesDupSql) AS sh
         |   FROM (SELECT doc_id, $toksSql AS tk FROM documents)),
         | g AS (SELECT doc_id, sh, count(*) AS c FROM e GROUP BY 1, 2),
         | m AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_rep, CAST(sum(c) AS BIGINT) AS n_sh FROM g GROUP BY 1)
         | SELECT doc_id, max_rep, n_sh,
         |   ${ExactRatio.scaledSql("max_rep", "n_sh", 10000L)} AS repetition_bp
         | FROM m ORDER BY doc_id""".stripMargin,
    "px1_corpus_prep" ->
      s"""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         | m0 AS (${qfSql(" WHERE lang = 'en'")}),
         | m AS (SELECT doc_id, n AS n_tokens, $qualityBpSql AS quality_bp FROM m0)
         | SELECT m.doc_id, m.n_tokens, m.quality_bp FROM m JOIN surv ON m.doc_id = surv.doc_id
         | WHERE m.quality_bp >= 5500 ORDER BY m.doc_id""".stripMargin,
    "px5_canonical_prep" ->
      s"""WITH canon AS (SELECT doc_id FROM
         |     (${graft.operators.Dedup.oracles("d6_neardup_clusters")})
         |   WHERE is_canonical),
         | m0 AS (${qfSql(" WHERE lang = 'en'")}),
         | m AS (SELECT doc_id, n AS n_tokens, $qualityBpSql AS quality_bp FROM m0)
         | SELECT m.doc_id, m.n_tokens, m.quality_bp FROM m JOIN canon ON m.doc_id = canon.doc_id
         | WHERE m.quality_bp >= 5500 ORDER BY m.doc_id""".stripMargin,
    "tx5_vocab" ->
      s"""SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         | FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         | GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    "tx1_token_stats" ->
      s"""SELECT doc_id, n_chars, len(tk) AS n_tokens,
         |   len(list_distinct(tk)) AS n_distinct_tokens,
         |   ${ExactRatio.scaledSql("list_sum(list_transform(tk, t -> len(t)))", "len(tk)", 1000L)} AS avg_token_len_milli
         | FROM (SELECT doc_id, n_chars, $toksSql AS tk FROM documents) ORDER BY doc_id""".stripMargin,
    "tx2_quality_score" ->
      s"""WITH m AS (${qfSql()})
         | SELECT doc_id, n AS n_tokens,
         |   ${ExactRatio.scaledSql("p", "l", 10000L)} AS punct_bp,
         |   ${ExactRatio.scaledSql("s", "n", 10000L)} AS stopword_bp,
         |   $qualityBpSql AS quality_bp
         | FROM m ORDER BY doc_id""".stripMargin,
    "px24_upsample" ->
      s"""WITH r AS (SELECT doc_id, source,
         |     $EpochFactorSql AS n_epochs FROM documents)
         | SELECT doc_id, source, CAST(n_epochs AS BIGINT) AS n_epochs,
         |   CAST(e.k AS BIGINT) AS epoch,
         |   md5(CAST(e.k AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS ord_key
         | FROM r, LATERAL (SELECT unnest(range(n_epochs)) AS k) e
         | ORDER BY doc_id, epoch""".stripMargin,
    "px23_weighted_sample" -> {
      def dig(pos: Int) =
        s"(instr('0123456789abcdef', substring(md5('$DrawSalt' || " +
          s"CAST(doc_id AS VARCHAR)), $pos, 1)) - 1)"
      s"""WITH m AS (${qfSql()}),
         | q AS (SELECT doc_id, $qualityBpSql AS quality_bp FROM m),
         | u AS (SELECT doc_id, CAST(4096 * ${dig(1)} + 256 * ${dig(2)} +
         |     16 * ${dig(3)} + ${dig(4)} AS BIGINT) AS u FROM documents)
         | SELECT q.doc_id, q.quality_bp, u.u,
         |   u.u * 10000 < q.quality_bp * $DrawScale AS kept
         | FROM q JOIN u ON q.doc_id = u.doc_id ORDER BY q.doc_id""".stripMargin
    },
    "tx3_langid" ->
      s"""WITH c AS (SELECT doc_id, lang,
         |   ${stopwords.map { case (l, ws) => s"${hitsSql(ws)} AS c_$l" }.mkString(", ")}
         |  FROM (SELECT doc_id, lang, $toksSql AS tk FROM documents)),
         | p AS (SELECT doc_id, lang, $langidCaseSql AS predicted FROM c)
         | SELECT doc_id, lang, predicted,
         |   CAST(predicted = lang AS INTEGER) AS correct
         | FROM p ORDER BY doc_id""".stripMargin,
    "tx4_fingerprint" ->
      s"""SELECT doc_id,
         |   array_to_string(list_sort(list_transform(sh, x -> md5(x)))[1:4], '-') AS fingerprint
         | FROM (SELECT doc_id, $shinglesSql AS sh
         |       FROM (SELECT doc_id, $toksSql AS tk FROM documents)) ORDER BY doc_id""".stripMargin
  )
}
