package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables => T}
import graft.ops.TextOps

/** SURVEY.md §2B round-3 training-pipeline additions — the curation
  * steps a 100 TB pretraining corpus actually runs between ingest and
  * tokenization: benchmark decontamination, repetition-based quality
  * filtering (the Gopher-rule family), and data-mixture token
  * accounting. All explode/groupBy/broadcast plans, zero UDFs, each
  * oracled brute-force in DuckDB.
  */
object PipelineQueries extends QueryPack {

  /** docs with id below this form the "benchmark" (eval) slice. */
  private val BenchCut = 50

  /** PII regexes — the common Java-regex ∩ RE2 subset (no lookaround,
    * no backrefs), so Spark and DuckDB match identical spans. */
  private val ReEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val RePhone = "555-[0-9]{4}"
  private val ReIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** HTML tag matcher (text_html_strip) — same semantics in Java regex
    * and DuckDB's RE2: a literal '<', any non-'>' run, '>'. */
  private val ReTag = "<[^>]*>"

  /** deterministic markup wrapped around the doc_id%19==0 slice — the
    * seeding device (PII precedent) that gives the tag stripper known
    * ground truth on a plain-text corpus. One SQL text evaluated
    * verbatim by BOTH engines (Spark via `expr`): a class attribute
    * varying with doc_id, nested tags, a self-closing tag, and an
    * anchor whose interior text must SURVIVE the strip. */
  private val HtmlSeedSql =
    """CASE WHEN doc_id % 19 = 0 THEN
      |  '<div class="d' || CAST(doc_id % 5 AS STRING) || '"><p>' || text ||
      |  '</p><br/><a href="http://x.test/' || CAST(doc_id AS STRING) ||
      |  '">link</a></div>'
      |ELSE text END""".stripMargin

  /** deterministic PII appended to the doc_id%7==0 slice (email + phone
    * + IPv4 derived from doc_id) — the harness device that gives the
    * scrubber known ground truth on a corpus with no natural PII.
    * Parameterized on the base text column so text_pii_scrub (raw text)
    * and pipeline_corpus (span-cleaned text) seed identically. */
  private def seedPii(base: org.apache.spark.sql.Column) =
    when(col("doc_id") % 7 === 0, concat(
      base, lit(" contact u"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")))
      .otherwise(base)

  /** the same seeding in DuckDB SQL (kept textually adjacent to
    * [[seedPii]] — the two must derive identical values). */
  private def seedPiiSql(base: String) =
    s"""CASE WHEN doc_id % 7 = 0 THEN
       |  $base || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |  ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
       |ELSE $base END""".stripMargin

  /** documents with the seeded slice as column `t2`. */
  private def piiSeeded(s: org.apache.spark.sql.SparkSession, d: String) =
    T.spread(T.documents(s, d)).withColumn("t2", seedPii(col("text")))

  private def PiiSeededSql =
    s"SELECT lang, ${seedPiiSql("text")} AS t2 FROM documents"

  /** the three-regex scrub chain, shared by text_pii_scrub and
    * pipeline_corpus (Spark + DuckDB forms kept adjacent). */
  private def scrub(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(c,
      ReEmail, "<EMAIL>"), RePhone, "<PHONE>"), ReIp, "<IP>")

  private def scrubSql(e: String) =
    s"""regexp_replace(regexp_replace(regexp_replace($e,
       |  '$ReEmail', '<EMAIL>', 'g'),
       |  '$RePhone', '<PHONE>', 'g'),
       |  '$ReIp', '<IP>', 'g')""".stripMargin

  // ---- span-dedup family (substring-dedup APPLY + ARTIFACT) --------
  //
  // Substring dedup, Lee-et-al-style, acting on what text_dup_spans
  // audits: every occurrence of a cross-document duplicated SpanK-gram
  // is removed EXCEPT its first occurrence — owner = lexicographic min
  // (doc_id, token offset). Declared semantics: a token is removed iff
  // it lies inside ANY non-owner occurrence of ANY duplicated gram
  // (removal wins over membership in some other gram's owner span).
  //
  // Scale shape (the text_dup_spans rule, extended): the mining is
  // occurrence-level (the APPLY needs offsets; nd still counts DISTINCT
  // docs, so "duplicated" matches the audit's predicate), the gram df
  // and the owner pick are hash-partial groupBys — min(struct) would
  // plan as SortAggregate, a per-map-partition SORT of the raw
  // occurrence stream — and coverage expands each removed occurrence to
  // its SpanK positions (bounded SpanK× on DUP occurrences only, the
  // WAU bounded-explode precedent). One (doc_id, pos) equi-join then
  // marks removed tokens. No window, no cartesian, nothing driver-side
  // (PlanSpec pins the raw shape via spanApplyOn).

  private val SpanK = 10

  /** per-token stream (1-based pos, matching the oracle's t[i]);
    * `docs` needs (doc_id, lang, text) — parameterized so the
    * randomized property tests can run the pipeline on generated
    * corpora. */
  private[graft] def spanTokens(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tk")))
      .select(col("doc_id"), col("lang"), (col("p0") + 1).as("pos"), col("tk"))

  /** covered (doc_id, pos) removal set — the expensive mined artifact,
    * consumed by BOTH span keys, so memoized per (session, sfDir). */
  private def spanCovered(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo(s, s"span-covered:$d")(
      // Tables.spread: the tokenize→shingle→posexplode stream otherwise
      // runs on the single-row-group scan's one task (r17 profiling:
      // a 3.7 s 1-task job); no-op at real scale
      spanCoveredOn(T.spread(T.documents(s, d))))

  /** the un-memoized coverage mining (PlanSpec pins this plan — the
    * cached consumer plans hide it behind an InMemoryTableScan). */
  private[graft] def spanCoveredOn(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val occ = docs
      .select(col("doc_id"),
        posexplode(TextOps.shingles(TextOps.tokens(col("text")), SpanK))
          .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
    // owner in two hash-aggregable phases (min doc per gram, then min
    // pos within that doc); the second phase's input is only the
    // owner-doc occurrences of duplicated grams (join-pruned), not the
    // corpus stream. `gg` renames break the occ-derived self-join
    // ambiguity.
    val gd = occ.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("od"))
      .filter(col("nd") >= 2)
      .select(col("g").as("gg"), col("od"))
    val own = occ
      .join(gd, col("g") === col("gg") && col("doc_id") === col("od"))
      .groupBy("gg", "od").agg(min("pos").as("op"))
    occ.join(own, col("g") === col("gg"))
      .filter(!(col("doc_id") === col("od") && col("pos") === col("op")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("pos"))
      .distinct()
  }

  /** the per-lang removal report over a given coverage set. Character
    * counts are over the single-space token join (clean_chars =
    * Σ len(kept) + (n_kept − 1)); all-integer decisions — the only
    * double is the 4-dp-rounded removed_frac of two exact sums. The
    * tok projection keeps only token LENGTH, so the join shuffle never
    * carries token text. */
  private[graft] def spanApplyFrom(tok: org.apache.spark.sql.DataFrame,
      rm: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = tok
      .select(col("doc_id"), col("lang"), col("pos"), length(col("tk")).as("l"))
      .join(rm.withColumn("cov", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum("l").as("ch"),
        sum(when(col("cov").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cov").isNull, col("l")).otherwise(0L)).as("ch_kept"))
    stats
      .withColumn("orig_chars", col("ch") + col("n_tok") - 1)
      .withColumn("clean_chars",
        when(col("n_kept") > 0, col("ch_kept") + col("n_kept") - 1).otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_kept") < col("n_tok"), 1L).otherwise(0L)).as("n_touched"),
        sum(when(col("n_kept") > 0, 1L).otherwise(0L)).as("n_surviving"),
        sum(col("n_tok") - col("n_kept")).as("toks_removed"),
        sum(col("orig_chars") - col("clean_chars")).as("chars_removed"),
        round(sum(col("orig_chars") - col("clean_chars"))
          / nullif(sum("orig_chars"), lit(0L)), 4).as("removed_frac"))
      .orderBy("lang")
  }

  /** the full report on the UN-memoized mining over an arbitrary docs
    * frame — PlanSpec pins this plan; OpsSpec runs it on generated
    * corpora. */
  private[graft] def spanApplyOn(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spanApplyFrom(spanTokens(docs), spanCoveredOn(docs))

  /** span-cleaned text for the coverage-TOUCHED docs only (the
    * pipeline_corpus reconstruction stage). The semi-join on the
    * coverage doc set sits BELOW the posexplode — Catalyst does not
    * push a semi-join through a Generate, so filtering first is the
    * difference between exploding the whole corpus and exploding the
    * few-% touched slice at 100 TB (r9 verdict #4). PlanSpec pins the
    * join-under-Generate shape. */
  private[graft] def reconstructTouched(docs: org.apache.spark.sql.DataFrame,
      cov: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spanTokens(docs.join(cov.select("doc_id").distinct(), Seq("doc_id"), "left_semi"))
      .join(cov.withColumn("cv", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(
        when(col("cv").isNull, struct(col("pos"), col("tk"))))),
        x => x.getField("tk")), " ").as("tc_text"))

  // ---- curation-funnel flags (shared by report + artifact) ---------

  /** per-doc funnel flag table: content hash + the cumulative stage
    * predicates p1 (length floor) … p4 (exact-dedup representative).
    * The expensive shared intermediate behind BOTH pipeline_funnel (the
    * report aggregates it) and pipeline_corpus (the artifact filters
    * p4) — memoized per (session, sfDir) like the span coverage set. */
  private def funnelFlagged(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo(s, s"funnel-flags:$d")(funnelFlaggedOn(T.spread(T.documents(s, d))))

  /** the un-memoized flag builder (PlanSpec pins this plan — the
    * memoized consumers hide it behind an InMemoryTableScan).
    *
    * ONE flag table: every stage predicate as a column, so the funnel
    * is a single conditional-sum aggregate over it (instead of five
    * filtered branches each re-deriving lineage — the flag shape scans
    * the corpus 3× total: base+canon, bigrams, 5-grams). Every
    * fraction is 4-dp rounded before its threshold compare, so both
    * engines select identical survivor sets. */
  private[graft] def funnelFlaggedOn(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // per-doc metrics, each a self-contained aggregate branch
    val tbf = docs.select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(round(max("n") / sum("n"), 4).as("tbf"))
    val sh = docs.select(col("doc_id"), explode(array_distinct(
      TextOps.shingles(TextOps.tokens(col("text")), 5))).as("g"))
    val bench = sh.filter(col("doc_id") < BenchCut)
      .select("g").distinct().withColumn("hit", lit(1))
    val cf = sh.filter(col("doc_id") >= BenchCut)
      .join(broadcast(bench), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(round(count(col("hit")) / count(lit(1)), 4).as("cf"))
    val canon = array_join(array_sort(array_distinct(
      TextOps.tokens(lower(trim(col("text")))))), " ")
    val flags = docs.select(col("doc_id"), col("n_chars"), sha2(canon, 256).as("h"))
      .join(tbf, Seq("doc_id"), "left")
      .join(cf, Seq("doc_id"), "left")
      .withColumn("p1", col("n_chars") >= 200)
      .withColumn("p2", col("p1") && (col("tbf").isNull || col("tbf") < 0.2))
      .withColumn("p3", col("p2") && col("doc_id") >= BenchCut &&
        (col("cf").isNull || col("cf") <= 0.05))
    val reps = flags.filter(col("p3")).groupBy("h").agg(min("doc_id").as("rep_doc"))
    flags.join(reps, Seq("h"), "left")
      .withColumn("p4",
        coalesce(col("p3") && col("doc_id") === col("rep_doc"), lit(false)))
  }

  // ---- snapshot diff (shared by the audit + the work plan) ---------

  /** deterministically derived prev/curr corpus snapshots, full-outer
    * joined with per-doc status — shared by dedup_snapshot_diff (the
    * audit) and pipeline_incremental (the re-curation work plan).
    *
    * Snapshots derive from the shared input identically on BOTH
    * engines: prev = every doc, original text; curr drops the %11
    * slice (removed), appends ' rev2' to the %13 slice (changed), and
    * re-ingests the %17 slice under doc_id + (max(doc_id)+1) (added) —
    * an out-of-range base, so the synthetic ids can never collide with
    * real doc_ids at ANY corpus size (the fixed +1e6 base used before
    * round 7 silently turned 'added' rows into changed/unchanged
    * matches past 1M docs). The base is one driver scalar from a
    * min/max-pruned parquet scan. md5 is per-row map-side; the only
    * shuffle is ONE full-outer hash-partitioned equi-join on doc_id —
    * the shape holds at any snapshot size.
    */
  private def snapshotDiffed(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    prevCurrJoined(s, d)
      .withColumn("status",
        when(col("p_h").isNull, "added")
          .when(col("c_h").isNull, "removed")
          .when(col("p_h") === col("c_h"), "unchanged")
          .otherwise("changed"))
      .withColumn("lang", coalesce(col("c_lang"), col("p_lang")))

  /** the full-outer (doc_id → p_h, c_h) snapshot join underneath
    * [[snapshotDiffed]], with both content hashes intact — merge_scd2
    * needs the hash PAIR (its history rows carry one hash per
    * version), the diff only the comparison verdict. */
  private def prevCurrJoined(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = T.spread(T.documents(s, d))
    val addBase = docs.agg(max("doc_id")).head.getLong(0) + 1L
    val prev = docs.select(col("doc_id"), col("lang").as("p_lang"),
      md5(col("text")).as("p_h"))
    val curr = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("lang"),
        md5(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + addBase).as("doc_id"), col("lang"),
          md5(col("text")).as("h")))
      .select(col("doc_id"), col("lang").as("c_lang"), col("h").as("c_h"))
    prev.join(curr, Seq("doc_id"), "full_outer")
  }

  /** the same derivation in DuckDB (kept textually adjacent to
    * [[snapshotDiffed]] — the two must emit identical snapshots);
    * yields CTE `snap(doc_id, status, lang)`. */
  private lazy val PrevCurrCteSql =
    """prev AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
      |curr AS (
      |  SELECT doc_id, lang,
      |         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 11 != 0
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), lang, md5(text)
      |  FROM documents WHERE doc_id % 17 = 0)""".stripMargin

  private lazy val SnapshotCteSql =
    s"""$PrevCurrCteSql,
      |snap AS (
      |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
      |         CASE WHEN p.h IS NULL THEN 'added'
      |              WHEN c.h IS NULL THEN 'removed'
      |              WHEN p.h = c.h THEN 'unchanged' ELSE 'changed' END AS status,
      |         COALESCE(c.lang, p.lang) AS lang
      |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id)""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "text_contamination" -> ((s, d) => {
      // benchmark decontamination: a corpus doc is contaminated if it
      // shares any 5-gram with the benchmark slice. The benchmark's
      // distinct 5-grams are tiny relative to the corpus (eval sets are
      // small by nature) → broadcast; the corpus shingle stream then
      // takes ONE pass — a broadcast left-join marker and a per-doc
      // aggregate, so gram total and hit count fall out of the same
      // shuffle. At 100 TB this is a map-side probe of a shared dict.
      val sh = T.spread(T.documents(s, d))
        .select(col("doc_id"), explode(array_distinct(
          TextOps.shingles(TextOps.tokens(col("text")), 5))).as("g"))
      val bench = sh.filter(col("doc_id") < BenchCut)
        .select("g").distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") >= BenchCut)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contam"))
        .filter(col("n_contam") > 0)
        .withColumn("contam_frac", round(col("n_contam") / col("n_grams"), 4))
        .select("doc_id", "n_contam", "contam_frac")
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // Gopher-style repetition filters: flag docs whose most frequent
      // bigram exceeds 8% of all bigrams, or with ≥5% duplicate
      // trigrams. Two explode→groupBy(doc_id) aggregates joined on
      // doc_id (both hash-partition on the same key); thresholds apply
      // to the ROUNDED 4-dp fractions on both engines.
      val base = T.spread(T.documents(s, d))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
      val top = base
        .select(col("doc_id"), explode(TextOps.shingles(col("t"), 2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(round(max("n") / sum("n"), 4).as("top_bigram_frac"))
      val dup = base
        .select(col("doc_id"), explode(TextOps.shingles(col("t"), 3)).as("g"))
        .groupBy("doc_id")
        .agg(round(lit(1.0) - countDistinct("g") / count(lit(1)), 4)
          .as("dup_trigram_frac"))
      top.join(dup, "doc_id")
        .filter(col("top_bigram_frac") >= 0.08 || col("dup_trigram_frac") >= 0.05)
        .orderBy("doc_id")
    }),

    "text_dup_spans" -> ((s, d) => {
      // cross-document duplicated-span audit (the memorization-risk
      // signal substring dedup acts on): per doc, how many of its
      // 10-gram spans appear in other docs too, and the widest such
      // span's document count. Through round 5 the span df was a
      // count-window over the raw gram occurrences — WindowExec gets NO
      // map-side partial aggregation and sorts each gram partition, so
      // a corpus-hot 10-gram (license boilerplate — exactly what this
      // audit exists to find) lands every occurrence in one
      // unsplittable window partition. The df is now groupBy(g).count()
      // (partial agg collapses duplicates map-side) filtered to nd≥2
      // and equi-joined back: AQE-skew-splittable, same rows. (The
      // Jaccard miner keeps its window-over-hash(g) trick — its cap's
      // whole job is to KILL hot shingles early; here hot grams ARE the
      // signal and must survive to the aggregate.)
      // r14: grams reduce to their 60-bit md5 the moment they exist —
      // the gram string is only ever a group/join KEY, so every
      // shuffle moves 8-byte longs instead of ~70-char strings (5×
      // lighter), and the DuckDB oracle hashes identically, so a
      // (≈n²/2⁶¹-improbable) collision would merge the same group on
      // both engines. The hashed explode is then MATERIALIZED once
      // (eager executor-block checkpoint): the df aggregate and the
      // join-back branch otherwise each recompute the full
      // tokenize+shingle pipeline (the minhash lesson, same round).
      // Tables.spread: the 10-gram explode + md5 otherwise run on the
      // single-row-group scan's one task (r17); no-op at real scale
      val sh = T.spread(T.documents(s, d))
        .select(col("doc_id"), explode(array_distinct(
          TextOps.shingles(TextOps.tokens(col("text")), 10))).as("g"))
        .select(col("doc_id"), TextOps.md5Long(col("g")).as("gh"))
        .localCheckpoint(true)
      val dupGrams = sh.groupBy("gh").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
      sh.join(dupGrams, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_grams"), max("nd").as("max_share"))
        .orderBy("doc_id")
    }),

    "dedup_span_apply" -> ((s, d) =>
      spanApplyFrom(spanTokens(T.spread(T.documents(s, d))),
        spanCovered(s, d))),

    "dedup_span_corpus" -> ((s, d) => {
      // the span-dedup ARTIFACT — the cleaned corpus itself, where
      // dedup_span_apply is the report: for every touched doc, the
      // surviving tokens re-joined in position order (possibly the
      // empty string when nothing survives). Output is bounded to
      // TOUCHED docs — and so is the COMPUTE: the removal set's
      // doc_ids ARE the touched docs, so a semi-join below the
      // posexplode confines tokenization + reassembly to the touched
      // slice (the pipeline_corpus device; r12 adjudication: the 4.0 s
      // calm wall was the struct collect_list running over the FULL
      // corpus token stream and filtering only after aggregation).
      // Reconstruction is per-doc collect_list of (pos, token) structs
      // sorted in-array — the KMeans centroid reassembly pattern, an
      // ObjectHashAggregate with partial+final phases, never a window.
      // Rides the same memoized coverage set as the report key.
      val rm = spanCovered(s, d)
      spanTokens(T.spread(T.documents(s, d))
          .join(rm.select("doc_id").distinct(), Seq("doc_id"), "left_semi"))
        .join(rm.withColumn("cov", lit(1)),
          Seq("doc_id", "pos"), "left")
        .groupBy("doc_id", "lang")
        .agg(sum(when(col("cov").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          array_join(transform(array_sort(collect_list(
            when(col("cov").isNull, struct(col("pos"), col("tk"))))),
            x => x.getField("tk")), " ").as("clean_text"))
        .filter(col("n_removed") > 0)
        .select("doc_id", "lang", "n_removed", "clean_text")
        .orderBy("doc_id")
    }),

    "text_pii_scrub" -> ((s, d) => {
      // PII redaction (the curation step between dedup and tokenization):
      // scrub emails / phone numbers / IPv4s to typed placeholders and
      // account for what was removed, per lang. The synthetic corpus
      // contains no natural PII, so a deterministic slice (doc_id%7==0)
      // gets PII derived from doc_id APPENDED first — computed
      // identically on both engines from the shared input, so the
      // scrubber runs against known ground truth at any scale. One
      // map-side pass: regex count + replace are per-row, the only
      // shuffle is the per-lang aggregate; n_residual re-probes the
      // scrubbed text and must be 0 (the self-check both engines hash).
      val counted = piiSeeded(s, d)
        .withColumn("n_e", regexp_count(col("t2"), lit(ReEmail)))
        .withColumn("n_p", regexp_count(col("t2"), lit(RePhone)))
        .withColumn("n_i", regexp_count(col("t2"), lit(ReIp)))
        .withColumn("scrubbed", scrub(col("t2")))
      counted.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(((col("n_e") + col("n_p") + col("n_i")) > 0).cast("long"))
            .as("n_pii_docs"),
          sum(col("n_e").cast("long")).as("n_email"),
          sum(col("n_p").cast("long")).as("n_phone"),
          sum(col("n_i").cast("long")).as("n_ip"),
          sum(length(col("scrubbed")).cast("long")).as("len_scrubbed"),
          sum((regexp_count(col("scrubbed"), lit(ReEmail))
            + regexp_count(col("scrubbed"), lit(RePhone))
            + regexp_count(col("scrubbed"), lit(ReIp))).cast("long"))
            .as("n_residual"))
        .orderBy("lang")
    }),

    "pipeline_shards" -> ((s, d) => {
      // the training-export shard audit: assign every document to one
      // of 16 output shards by portable content-independent hash (the
      // md5-of-id device every sampler here uses), then publish the
      // balance sheet a dataloader team reads before training — per
      // shard: docs, tokens, chars, and the doc-count skew vs the ideal
      // uniform share. Hash sharding is the 100 TB answer to "no shard
      // may be a hot spot": the audit PROVES balance instead of
      // assuming it. One aggregate shuffle on the 16-value shard key
      // (map-side combined); the global total rides a broadcast of the
      // 16-row aggregate, never a second corpus pass.
      val docs = T.spread(T.documents(s, d))
        .withColumn("shard",
          pmod(TextOps.md5Long(col("doc_id").cast("string")), lit(16L)))
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      val per = docs.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum(col("n_chars").cast("long")).as("n_chars"))
      val tot = per.agg(sum("n_docs").as("total"))
      per.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
          round(col("n_docs").cast("double")
            / (col("total").cast("double") / 16.0), 4).as("skew"))
        .orderBy("shard")
    }),

    "text_html_strip" -> ((s, d) => {
      // markup/boilerplate removal (the extraction step upstream of
      // every text filter: web-crawled corpora arrive as HTML): strip
      // tags to recover clean text, with per-lang accounting of what
      // was removed. The synthetic corpus is plain text, so (the PII
      // seeding precedent) a deterministic %19 slice is wrapped in
      // markup derived from doc_id first — identically on both engines
      // — and the stripper runs against known ground truth: every tag
      // must go, tag-interior text ("link") must survive. One map-side
      // pass (regex count + replace per row); the only shuffle is the
      // per-lang aggregate; n_residual re-probes the cleaned text and
      // must be 0.
      val cleaned = T.spread(T.documents(s, d))
        .withColumn("t2", expr(HtmlSeedSql))
        .withColumn("n_tags", regexp_count(col("t2"), lit(ReTag)))
        .withColumn("clean", regexp_replace(col("t2"), ReTag, ""))
      cleaned.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum((col("n_tags") > 0).cast("long")).as("n_markup_docs"),
          sum(col("n_tags").cast("long")).as("n_tags"),
          sum((length(col("t2")) - length(col("clean"))).cast("long"))
            .as("chars_removed"),
          sum(length(col("clean")).cast("long")).as("len_clean"),
          sum(regexp_count(col("clean"), lit(ReTag)).cast("long"))
            .as("n_residual"))
        .orderBy("lang")
    }),

    "pipeline_funnel" -> ((s, d) => {
      // the curation funnel — the summary table a pipeline run
      // publishes: how many docs (and chars) survive each successive
      // stage. Stages compose the engine's own filters cumulatively:
      // length floor → repetition cap (top-bigram fraction < 0.2) →
      // eval-slice removal + 5-gram decontamination (contam ≤ 5%) →
      // exact-dedup representatives. Every predicate compares the SAME
      // 4-dp-rounded fraction on both engines. The per-doc flag table
      // is shared with pipeline_corpus (the artifact this funnel
      // reports on) via funnelFlagged — built once per (session, sf).
      val flagged = funnelFlagged(s, d)
      def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
      def chars(p: org.apache.spark.sql.Column) =
        sum(when(p, col("n_chars")).otherwise(0L))
      flagged.agg(
          count(lit(1)).as("c0"), sum("n_chars").as("h0"),
          cnt(col("p1")).as("c1"), chars(col("p1")).as("h1"),
          cnt(col("p2")).as("c2"), chars(col("p2")).as("h2"),
          cnt(col("p3")).as("c3"), chars(col("p3")).as("h3"),
          cnt(col("p4")).as("c4"), chars(col("p4")).as("h4"))
        .select(expr(
          "stack(5, '00_ingest', c0, h0, '01_length', c1, h1, " +
            "'02_repetition', c2, h2, '03_decontam', c3, h3, " +
            "'04_exact_dedup', c4, h4) AS (stage, n_docs, n_chars)"))
        .orderBy("stage")
    }),

    "pipeline_corpus" -> ((s, d) => {
      // the END-TO-END corpus artifact (r8 verdict #1) — the one
      // materialized table a training run consumes, where
      // pipeline_funnel is the report: length floor → repetition cap →
      // decontamination → exact-dedup representatives (the funnel's p4
      // survivor set, same memoized flag table) → span-cleaned text
      // (the SessionMemo coverage set shared with dedup_span_apply/
      // corpus) → PII-scrubbed → split-tagged (sample_split's md5
      // buckets). Emits (doc_id, lang, split, clean_chars, clean_text)
      // for every surviving doc.
      //
      // Scale shape: reconstruction (collect_list sorted in-array, the
      // dedup_span_corpus pattern) is bounded to span-TOUCHED docs via
      // a semi-join on the coverage set — an untouched survivor's text
      // rides straight from the scan through one left join, never
      // through the per-token aggregate. Scrub + split are per-row
      // map-side; the PII seeding is the same harness device as
      // text_pii_scrub (the synthetic corpus has no natural PII, so the
      // %7 slice gets PII appended POST-span-clean — it cannot perturb
      // the mining — and the placeholders in the artifact prove the
      // scrubber ran against known ground truth).
      val touched = reconstructTouched(T.spread(T.documents(s, d)), spanCovered(s, d))
      val surv = funnelFlagged(s, d).filter(col("p4")).select("doc_id")
      val b = TextOps.md5Long(col("doc_id").cast("string")) % 100
      T.spread(T.documents(s, d))
        .join(surv, Seq("doc_id"), "left_semi")
        .join(touched, Seq("doc_id"), "left")
        .withColumn("clean_text",
          scrub(seedPii(coalesce(col("tc_text"), col("text")))))
        .withColumn("split",
          when(b < 90, "train").when(b < 95, "val").otherwise("test"))
        .select(col("doc_id"), col("lang"), col("split"),
          length(col("clean_text")).cast("long").as("clean_chars"),
          col("clean_text"))
        .orderBy("doc_id")
    }),

    "sample_quality_weighted" -> ((s, d) => {
      // quality-weighted subsampling: each doc survives with
      // probability p = min(1, n_chars/1500) — longer docs kept
      // preferentially, the acceptance drawn from the doc's own
      // portable md5 bucket so BOTH engines (and every retry at any
      // scale) select the identical sample with zero coordination.
      // Reported as per-lang kept/total accounting.
      val p = least(lit(1.0), col("n_chars") / lit(1500.0))
      val bucket = TextOps.md5Long(col("doc_id").cast("string")) % 10000
      T.spread(T.documents(s, d))
        .withColumn("kept", (bucket.cast("double") < p * 10000).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"))
        .orderBy("lang")
    }),

    "sample_split" -> ((s, d) => {
      // deterministic train/val/test split (90/5/5) by portable md5
      // bucket of doc_id — stable under reruns, identical on both
      // engines and on every executor at any scale, no coordination or
      // RNG state; per-split × lang accounting (the split-audit table).
      val b = TextOps.md5Long(col("doc_id").cast("string")) % 100
      T.spread(T.documents(s, d))
        .withColumn("split",
          when(b < 90, "train").when(b < 95, "val").otherwise("test"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    }),

    "sample_temperature" -> ((s, d) => {
      // temperature-resampled language mixture (the mT5/multilingual
      // recipe, α = 0.5): target share ∝ share^α lifts low-resource
      // langs; the per-lang resampling factor is normalized so the most
      // up-weighted lang keeps everything (downsample-only — you can't
      // mint data). α = 0.5 is computed as SQRT on purpose: sqrt is
      // IEEE-correctly-rounded in both engines, pow is libm-dependent.
      // The acceptance threshold is an INTEGER basis-point rate compared
      // against the doc's portable md5 bucket. Since f ∝ 1/√toks, the
      // normalized factor collapses algebraically: f/fmax = √(tmin/toks)
      // with tmin = MIN(toks) over langs — so rate_bp is derived from
      // two EXACT integer aggregates (SUM of longs, MIN) through three
      // correctly-rounded IEEE ops (int→double divide, sqrt, ×10⁴),
      // bit-identical on both engines. The round-7 form routed rate_bp
      // through SUM(SQRT(toks))-derived f and fmax — fold-order-
      // sensitive doubles in a discretization (r7 ADVICE); now the only
      // fold-order-sensitive double (spow) feeds the REPORTED
      // 4-dp-rounded target_share column, nothing decisional. Shape:
      // one tiny aggregate over the |langs|-row mixture table broadcast
      // back — one corpus pass + one broadcast join, no coordination.
      val nTok = size(expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
      val docs = T.spread(T.documents(s, d)).select(col("doc_id"), col("lang"), nTok.as("n_tok"))
      val per = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("toks"))
      val tot = per.agg(sum("toks").cast("double").as("tot"),
        sum(sqrt(col("toks"))).as("spow"), min("toks").as("tmin"))
      val rates = per.crossJoin(broadcast(tot))
        .select(col("lang"),
          (col("toks") / col("tot")).as("share"),
          (sqrt(col("toks")) / col("spow")).as("target"),
          round(sqrt(col("tmin").cast("double") / col("toks")) * 10000, 0)
            .cast("long").as("rate_bp"))
      docs
        .withColumn("bucket",
          TextOps.md5Long(col("doc_id").cast("string")) % 10000)
        .join(broadcast(rates), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("toks"),
          round(first("share"), 4).as("share"),
          round(first("target"), 4).as("target_share"),
          first("rate_bp").as("rate_bp"),
          sum(when(col("bucket") < col("rate_bp"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("bucket") < col("rate_bp"), col("n_tok")).otherwise(0L))
            .as("kept_toks"))
        .orderBy("lang")
    }),

    "sample_domain_cap" -> ((s, d) => {
      // per-domain frequency capping (the C4-style guard against one
      // crawl domain dominating the mixture): keep at most 100 docs per
      // source, chosen by portable md5 order so the survivor set is
      // rerun-stable and engine-independent. The rank ≤ K filter is the
      // point of the plan: Catalyst rewrites it to WindowGroupLimit,
      // which truncates each map partition to its top-K BEFORE the window
      // exchange — a hot domain ships K rows per map task, not its
      // whole row set (pinned in PlanSpec).
      val docs = T.spread(T.documents(s, d)).select(col("doc_id"), col("lang"), col("source"))
      val w = Window.partitionBy("source")
        .orderBy(TextOps.md5Long(col("doc_id").cast("string")), col("doc_id"))
      val kept = docs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100)
        .groupBy("source", "lang").agg(count(lit(1)).as("n_kept"))
      docs.groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source", "lang"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy("source", "lang")
    }),

    "text_seq_pack" -> ((s, d) => {
      // sequence packing (concat-and-chunk, the GPT-style pretraining
      // shape): docs are concatenated in deterministic doc_id order
      // within a (lang, shard) stream and cut into fixed 2048-token
      // training windows. Packing is per-shard BY DESIGN — a deployment
      // sizes shard count ≈ corpus / target-shard-size, so no window
      // partition outgrows one task at any corpus scale (a global
      // running sum would serialize; the per-shard one is the industry
      // per-file packing). Reports stream size, window count, and how
      // many docs straddle a window boundary (the attention-mask /
      // doc-separator cost a packing plan watches).
      val nBpe = size(expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
      val sharded = T.spread(T.documents(s, d)).select(col("doc_id"), col("lang"),
        (TextOps.md5Long(col("doc_id").cast("string")) % 8).as("shard"),
        nBpe.as("n_tok"))
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sharded.withColumn("cum", sum("n_tok").over(w))
        .withColumn("split_doc",
          (col("n_tok") > 0 &&
            floor((col("cum") - col("n_tok")) / lit(2048.0)) =!=
              floor((col("cum") - 1) / lit(2048.0))).cast("long"))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          ceil(sum("n_tok") / lit(2048.0)).cast("long").as("n_windows"),
          sum("split_doc").as("n_split_docs"))
        .orderBy("lang", "shard")
    }),

    "dedup_snapshot_diff" -> ((s, d) =>
      // incremental-ingest audit: diff the current corpus snapshot
      // against the previous one by (doc_id, content-hash) — the
      // bookkeeping an always-on pipeline runs so it re-dedups only
      // what changed. Derivation + shape notes on [[snapshotDiffed]].
      snapshotDiffed(s, d)
        .groupBy("status", "lang").agg(count(lit(1)).as("n"))
        .orderBy("status", "lang")),

    "merge_scd2" -> ((s, d) => {
      // the MERGE/upsert that dedup_snapshot_diff audits, applied as a
      // slowly-changing-dimension type-2 history: one row per document
      // VERSION with a validity interval over the two snapshot batches
      // — unchanged docs keep their open batch-1 row; changed docs
      // close batch 1 (vto=2) and open a batch-2 row; removed docs
      // close with no successor; added docs open at batch 2. At scale
      // the shape is prevCurrJoined's single full-outer equi-join on
      // doc_id; the ≤2 history rows per doc come from one map-side
      // explode of a 2-slot struct array — no second shuffle, no
      // window. Total order (doc_id, vfrom) is unique by construction.
      val el = "struct<h:string,vfrom:int,vto:int>"
      prevCurrJoined(s, d)
        .withColumn("lang", coalesce(col("c_lang"), col("p_lang")))
        .select(col("doc_id"), col("lang"), explode(array(
          when(col("p_h").isNotNull, struct(
            col("p_h").as("h"), lit(1).as("vfrom"),
            when(col("c_h").isNull || col("c_h") =!= col("p_h"), lit(2))
              .otherwise(lit(null)).cast("int").as("vto"))).cast(el),
          when(col("c_h").isNotNull &&
              (col("p_h").isNull || col("p_h") =!= col("c_h")), struct(
            col("c_h").as("h"), lit(2).as("vfrom"),
            lit(null).cast("int").as("vto"))).cast(el))).as("r"))
        .filter(col("r").isNotNull)
        .select(col("doc_id"), col("lang"), col("r.h").as("h"),
          col("r.vfrom").as("vfrom"), col("r.vto").as("vto"),
          col("r.vto").isNull.cast("int").as("is_current"))
        .orderBy("doc_id", "vfrom")
    }),

    "pipeline_incremental" -> ((s, d) => {
      // the incremental re-curation WORK PLAN (what dedup_snapshot_diff
      // audits, turned into the decision a continuously-ingesting
      // pipeline acts on): per lang, how much of the new snapshot needs
      // re-processing and how much rides the cached verdicts — an
      // UNCHANGED doc (same content hash) keeps its funnel stage-4
      // survivor verdict from the previous curation run (n_reuse, the
      // verdict carry-forward); ADDED + CHANGED docs are the re-curate
      // set; REMOVED docs retire. At 100 TB this accounting is the
      // whole point of snapshotting: the expensive funnel re-runs on
      // the few-% delta, never the corpus. Shape: the memoized flag
      // table joins the diff on doc_id (hash join — synthetic added
      // ids sit above max(doc_id), so they can never steal a cached
      // verdict), one per-lang aggregate on top.
      val p4 = funnelFlagged(s, d).filter(col("p4"))
        .select(col("doc_id"), lit(1L).as("pp4"))
      def cnt(st: String) =
        sum(when(col("status") === st, 1L).otherwise(0L))
      val reuse =
        sum(when(col("status") === "unchanged" && col("pp4").isNotNull, 1L)
          .otherwise(0L))
      snapshotDiffed(s, d)
        .join(p4, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(cnt("added").as("n_added"), cnt("changed").as("n_changed"),
          cnt("removed").as("n_removed"), cnt("unchanged").as("n_unchanged"),
          reuse.as("n_reuse"),
          round(reuse / nullif(cnt("unchanged"), lit(0L)), 4).as("reuse_frac"))
        .orderBy("lang")
    }),

    "quality_drift" -> ((s, d) => {
      // distribution-drift audit (the monitor a continuously-ingesting
      // pipeline runs per batch): Kolmogorov–Smirnov distance between
      // the doc-length distributions of two deterministic snapshot
      // slices (even vs odd doc_id — "yesterday's crawl vs today's"),
      // per lang. Exact KS needs a per-group sort over raw rows — the
      // unsplittable-window shape this repo bans — so the DECLARED
      // semantics are binned-CDF KS: 64 equal-width bins from a 1-row
      // global min/max broadcast, per-(lang, bin) partial-aggregated
      // counts, and the CDF window runs over the ≤64-row-per-lang bin
      // table. Bin ids are exact integer math in both engines (the
      // products stay ≪ 2⁵³, floor(double) is engine-identical).
      val bounds = T.spread(T.documents(s, d))
        .agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      val binned = T.spread(T.documents(s, d)).crossJoin(broadcast(bounds))
        .withColumn("bin", floor((col("n_chars") - col("mn")) * lit(64.0)
          / (col("mx") - col("mn") + lit(1.0))).cast("long"))
        .groupBy("lang", "bin")
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("cb"))
      val w = Window.partitionBy("lang").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("lang")
      // one select so Catalyst coalesces the four window expressions
      // into the two specs (running + per-lang total). The per-lang
      // totals are nullif-guarded: a lang whose docs are ALL even (or
      // all odd) doc_ids has a zero denominator, and 0/0 NaN propagation
      // through MAX/ROUND is not guaranteed to hash-match across
      // engines — both sides emit NULL ks symmetrically instead
      // (r7 ADVICE).
      binned
        .select(col("lang"), col("ca"), col("cb"),
          (sum("ca").over(w) / nullif(sum("ca").over(tw), lit(0L))).as("fa"),
          (sum("cb").over(w) / nullif(sum("cb").over(tw), lit(0L))).as("fb"))
        .groupBy("lang")
        .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
          round(max(abs(col("fa") - col("fb"))), 4).as("ks"))
        .orderBy("lang")
    }),

    "text_vocab_coverage" -> ((s, d) => {
      // the tokenizer-design curve: what fraction of corpus tokens a
      // top-k vocabulary covers, for k ∈ {5, 10, 20} (the synthetic
      // corpus draws from a fixed 31-word template vocabulary at every
      // SF, so the ks sit inside the curve's knee). The classic
      // formulation sorts the whole vocabulary by frequency — a global
      // single-partition rank that dies at web-corpus vocab sizes.
      // Instead, coverage is computed from the COUNT HISTOGRAM: per
      // frequency class (n, m words, n·m mass), a class contributes
      // n · clamp(k − words_above, 0, m) tokens to the top-k — the
      // lexicographic tie-break inside a class never changes the mass,
      // so the answer is exact WITHOUT materializing any order over
      // words. The only window runs over the histogram (≤ distinct
      // frequencies — Zipf-small at any corpus size; the quality_drift
      // bounded-window precedent); everything upstream is two hash
      // aggregates.
      val vocab = T.spread(T.documents(s, d))
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n"))
      val hist = vocab.groupBy("n").agg(count(lit(1)).as("m"))
      val wh = Window.orderBy(col("n").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val h2 = hist
        .withColumn("above", coalesce(sum("m").over(wh), lit(0L)))
      val tot = hist.agg(sum(col("n") * col("m")).as("total"),
        sum("m").as("n_vocab"))
      val ks = s.range(1).select(explode(array(
        lit(5L), lit(10L), lit(20L))).as("k"))
      h2.crossJoin(broadcast(ks))
        .withColumn("contrib", col("n") * greatest(lit(0L),
          least(col("m"), col("k") - col("above"))))
        .groupBy("k").agg(sum("contrib").as("mass"))
        .crossJoin(broadcast(tot))
        .select(col("k"), least(col("k"), col("n_vocab")).as("n_vocab"),
          round(col("mass").cast("double") / col("total"), 4).as("coverage"))
        .orderBy("k")
    }),

    "text_token_budget" -> ((s, d) => {
      // data-mixture accounting: BPE-ish token totals per (lang,
      // source) with corpus share and cumulative share in descending-
      // contribution order — the table a mixture plan reads to set
      // sampling weights. The window is over the AGGREGATED mixture
      // table (|langs| × |sources| rows), so the single-partition sort
      // is a few dozen rows at any corpus scale.
      val per = T.spread(T.documents(s, d))
        .withColumn("n_bpe",
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
        .groupBy("lang", "source").agg(sum("n_bpe").as("toks"))
      val tot = per.agg(sum("toks").as("tot"))
      val w = Window.orderBy(col("toks").desc, col("lang"), col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.crossJoin(broadcast(tot))
        .withColumn("share", round(col("toks") / col("tot"), 4))
        .withColumn("cum_share", round(sum("toks").over(w) / col("tot"), 4))
        .select("lang", "source", "toks", "share", "cum_share")
        .orderBy(col("toks").desc, col("lang"), col("source"))
    })
  )

  /** DuckDB k-gram fragment over token list `t` (k adjacent tokens). */
  private def gramSql(k: Int): String = {
    val terms = (0 until k).map(o => s"t[i+$o]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(t) - ${k - 2}), i -> $terms)"
  }

  /** shared DuckDB CTE prefix for the span-dedup family, textually
    * parallel to [[spanTokens]]/[[spanCoveredOn]]: tok = (pos, token,
    * token length), occ = gram occurrences, own/own2 = the two-phase
    * owner pick, rm = the covered (doc_id, pos) removal set. */
  private lazy val SpanCteSql =
    s"""t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(range(1, len(t) + 1)) AS pos,
       |               unnest(t) AS tk,
       |               unnest(list_transform(t, x -> len(x))) AS l FROM t),
       |occ AS (SELECT doc_id, unnest(range(1, len(t) - ${SpanK - 2})) AS pos,
       |               unnest(${gramSql(SpanK)}) AS g FROM t),
       |own AS (SELECT g, MIN(doc_id) AS od FROM occ GROUP BY g
       |        HAVING COUNT(DISTINCT doc_id) >= 2),
       |own2 AS (SELECT o.g, w.od, MIN(o.pos) AS op
       |         FROM occ o JOIN own w ON o.g = w.g AND o.doc_id = w.od
       |         GROUP BY o.g, w.od),
       |rm AS (SELECT DISTINCT doc_id, pos FROM (
       |         SELECT o.doc_id, unnest(range(o.pos, o.pos + $SpanK)) AS pos
       |         FROM occ o JOIN own2 w ON o.g = w.g
       |         WHERE NOT (o.doc_id = w.od AND o.pos = w.op)))""".stripMargin

  /** shared DuckDB CTE chain for the curation funnel, textually
    * parallel to [[funnelFlaggedOn]]: d = base docs, s1…s4 = the
    * cumulative survivor sets (length floor, repetition cap, decontam,
    * exact-dedup representatives). Shared by the funnel report and the
    * pipeline_corpus artifact oracle. */
  private lazy val FunnelCteSql =
    s"""d AS (SELECT doc_id, lang, text, n_chars, string_split(text, ' ') AS t
       |           FROM documents),
       |s1 AS (SELECT * FROM d WHERE n_chars >= 200),
       |bc AS (SELECT doc_id, g, COUNT(*) AS n
       |       FROM (SELECT doc_id, unnest(${gramSql(2)}) AS g FROM s1)
       |       GROUP BY 1, 2),
       |tbf AS (SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 4) AS tbf
       |        FROM bc GROUP BY 1),
       |s2 AS (SELECT s1.* FROM s1 LEFT JOIN tbf USING (doc_id)
       |       WHERE tbf IS NULL OR tbf < 0.2),
       |sh AS (SELECT doc_id, unnest(list_distinct(${gramSql(5)})) AS g FROM d),
       |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < $BenchCut),
       |cf AS (SELECT s.doc_id, ROUND(CAST(COUNT(b.g) AS DOUBLE) / COUNT(*), 4) AS cf
       |       FROM sh s LEFT JOIN bench b ON s.g = b.g
       |       WHERE s.doc_id >= $BenchCut GROUP BY 1),
       |s3 AS (SELECT s2.* FROM s2 LEFT JOIN cf USING (doc_id)
       |       WHERE s2.doc_id >= $BenchCut AND (cf IS NULL OR cf <= 0.05)),
       |s3h AS (SELECT *, sha256(array_to_string(list_sort(list_distinct(
       |          string_split(lower(trim(text)), ' '))), ' ')) AS h FROM s3),
       |reps AS (SELECT MIN(doc_id) AS doc_id FROM s3h GROUP BY h),
       |s4 AS (SELECT s3h.* FROM s3h JOIN reps USING (doc_id))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_contamination" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${gramSql(5)})) AS g FROM t),
         |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < $BenchCut),
         |agg AS (
         |  SELECT s.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_contam
         |  FROM sh s LEFT JOIN bench b ON s.g = b.g
         |  WHERE s.doc_id >= $BenchCut GROUP BY 1)
         |SELECT doc_id, CAST(n_contam AS BIGINT) AS n_contam,
         |       ROUND(CAST(n_contam AS DOUBLE) / n_grams, 4) AS contam_frac
         |FROM agg WHERE n_contam > 0 ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, t FROM
         |    (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |bc AS (
         |  SELECT doc_id, g, COUNT(*) AS n
         |  FROM (SELECT doc_id, unnest(${gramSql(2)}) AS g FROM t) GROUP BY 1, 2),
         |bf AS (SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 4)
         |         AS top_bigram_frac FROM bc GROUP BY 1),
         |tf AS (
         |  SELECT doc_id, ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 4)
         |    AS dup_trigram_frac
         |  FROM (SELECT doc_id, unnest(${gramSql(3)}) AS g FROM t) GROUP BY 1)
         |SELECT bf.doc_id, top_bigram_frac, dup_trigram_frac
         |FROM bf JOIN tf USING (doc_id)
         |WHERE top_bigram_frac >= 0.08 OR dup_trigram_frac >= 0.05
         |ORDER BY doc_id""".stripMargin,

    // grams hashed to the same 60-bit md5 as the Spark side (the
    // portable-hash device): identical keys, identical (vanishingly
    // unlikely) collisions, and the count is over hashes on BOTH sides
    "text_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, ${TextOps.md5LongSql("g")} AS gh
         |       FROM (SELECT doc_id, unnest(list_distinct(${gramSql(10)})) AS g FROM t)),
         |nd AS (SELECT doc_id, gh, COUNT(*) OVER (PARTITION BY gh) AS nd FROM sh)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         |       CAST(MAX(nd) AS BIGINT) AS max_share
         |FROM nd WHERE nd >= 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // parallel unnests in one SELECT zip positionally in DuckDB, giving
    // (pos, token) and (pos, gram) streams; positions are 1-based
    // to match gramSql's t[i] indexing (the Spark side shifts posexplode
    // by +1). range(a, b) is half-open, so range(pos, pos+10) is the
    // 10 covered positions and range(1, len(t)-8) is the gram starts.
    "dedup_span_apply" ->
      s"""WITH $SpanCteSql,
         |st AS (SELECT tok.doc_id, lang, COUNT(*) AS n_tok, SUM(l) AS ch,
         |              SUM(CASE WHEN r.pos IS NULL THEN 1 ELSE 0 END) AS n_kept,
         |              SUM(CASE WHEN r.pos IS NULL THEN l ELSE 0 END) AS ch_kept
         |       FROM tok LEFT JOIN rm r ON tok.doc_id = r.doc_id AND tok.pos = r.pos
         |       GROUP BY 1, 2),
         |pd AS (SELECT lang, n_tok, n_kept,
         |              ch + n_tok - 1 AS orig_chars,
         |              CASE WHEN n_kept > 0 THEN ch_kept + n_kept - 1 ELSE 0 END AS clean_chars
         |       FROM st)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN n_kept < n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
         |       CAST(SUM(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving,
         |       CAST(SUM(n_tok - n_kept) AS BIGINT) AS toks_removed,
         |       CAST(SUM(orig_chars - clean_chars) AS BIGINT) AS chars_removed,
         |       ROUND(CAST(SUM(orig_chars - clean_chars) AS DOUBLE)
         |             / NULLIF(SUM(orig_chars), 0), 4) AS removed_frac
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "dedup_span_corpus" ->
      s"""WITH $SpanCteSql,
         |st AS (SELECT tok.doc_id, lang,
         |              SUM(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
         |              COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN tok.tk END,
         |                                  ' ' ORDER BY tok.pos), '') AS clean_text
         |       FROM tok LEFT JOIN rm r ON tok.doc_id = r.doc_id AND tok.pos = r.pos
         |       GROUP BY 1, 2)
         |SELECT doc_id, lang, CAST(n_removed AS BIGINT) AS n_removed, clean_text
         |FROM st WHERE n_removed > 0 ORDER BY doc_id""".stripMargin,

    "pipeline_shards" ->
      s"""WITH sh AS (
         |  SELECT ${TextOps.md5LongSql("CAST(doc_id AS STRING)")} % 16 AS shard,
         |         len(string_split(text, ' ')) AS n_tok, n_chars
         |  FROM documents),
         |per AS (
         |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
         |  FROM sh GROUP BY shard)
         |SELECT shard, n_docs, n_tokens, n_chars,
         |       ROUND(CAST(n_docs AS DOUBLE)
         |             / (CAST((SELECT SUM(n_docs) FROM per) AS DOUBLE) / 16.0), 4) AS skew
         |FROM per ORDER BY shard""".stripMargin,

    "text_html_strip" ->
      s"""WITH w AS (
         |  SELECT lang, ($HtmlSeedSql) AS t2 FROM documents),
         |c AS (
         |  SELECT lang, t2,
         |         len(regexp_extract_all(t2, '$ReTag')) AS nt,
         |         regexp_replace(t2, '$ReTag', '', 'g') AS clean
         |  FROM w)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN nt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_markup_docs,
         |       CAST(SUM(nt) AS BIGINT) AS n_tags,
         |       CAST(SUM(len(t2) - len(clean)) AS BIGINT) AS chars_removed,
         |       CAST(SUM(len(clean)) AS BIGINT) AS len_clean,
         |       CAST(SUM(len(regexp_extract_all(clean, '$ReTag'))) AS BIGINT) AS n_residual
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "text_pii_scrub" ->
      s"""WITH seeded AS ($PiiSeededSql),
         |c AS (
         |  SELECT lang, t2,
         |         len(regexp_extract_all(t2, '$ReEmail')) AS ne,
         |         len(regexp_extract_all(t2, '$RePhone')) AS np,
         |         len(regexp_extract_all(t2, '$ReIp')) AS ni,
         |         ${scrubSql("t2")} AS scrubbed
         |  FROM seeded)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
         |       CAST(SUM(ne) AS BIGINT) AS n_email,
         |       CAST(SUM(np) AS BIGINT) AS n_phone,
         |       CAST(SUM(ni) AS BIGINT) AS n_ip,
         |       CAST(SUM(len(scrubbed)) AS BIGINT) AS len_scrubbed,
         |       CAST(SUM(len(regexp_extract_all(scrubbed, '$ReEmail'))
         |              + len(regexp_extract_all(scrubbed, '$RePhone'))
         |              + len(regexp_extract_all(scrubbed, '$ReIp'))) AS BIGINT) AS n_residual
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_funnel" ->
      s"""WITH $FunnelCteSql
         |SELECT * FROM (
         |  SELECT '00_ingest' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars FROM d
         |  UNION ALL SELECT '01_length', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s1
         |  UNION ALL SELECT '02_repetition', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s2
         |  UNION ALL SELECT '03_decontam', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s3
         |  UNION ALL SELECT '04_exact_dedup', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM s4
         |) ORDER BY stage""".stripMargin,

    // the end-to-end artifact oracle (r9 verdict #1): the two mined CTE
    // chains — SpanCteSql (the covered-position removal set `rm`, CTE
    // names t/tok/occ/own/own2/rm) and FunnelCteSql (the cumulative
    // survivor sets, d/s1../s4) — are disjoint in name and each already
    // hash-matches standalone (dedup_span_corpus / pipeline_funnel), so
    // the composition only adds the per-stage plumbing the Spark query
    // runs: reconstruct touched docs, seed PII post-span-clean, scrub,
    // split-tag, ORDER BY doc_id.
    "pipeline_corpus" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""WITH $SpanCteSql,
         |$FunnelCteSql,
         |tc AS (SELECT tok.doc_id,
         |              COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN tok.tk END,
         |                                  ' ' ORDER BY tok.pos), '') AS tc_text
         |       FROM tok
         |       JOIN (SELECT DISTINCT doc_id FROM rm) rd ON tok.doc_id = rd.doc_id
         |       LEFT JOIN rm r ON tok.doc_id = r.doc_id AND tok.pos = r.pos
         |       GROUP BY 1),
         |base AS (SELECT s4.doc_id, s4.lang, COALESCE(tc.tc_text, s4.text) AS bt
         |         FROM s4 LEFT JOIN tc USING (doc_id)),
         |seeded AS (SELECT doc_id, lang, ${seedPiiSql("bt")} AS st FROM base),
         |fin AS (SELECT doc_id, lang,
         |               CASE WHEN ($h % 100) < 90 THEN 'train'
         |                    WHEN ($h % 100) < 95 THEN 'val' ELSE 'test' END AS split,
         |               ${scrubSql("st")} AS clean_text
         |        FROM seeded)
         |SELECT doc_id, lang, split,
         |       CAST(len(clean_text) AS BIGINT) AS clean_chars, clean_text
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    "sample_quality_weighted" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN CAST(($h % 10000) AS DOUBLE)
         |                       < LEAST(1.0, CAST(n_chars AS DOUBLE) / 1500.0) * 10000
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    },

    "sample_split" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""SELECT CASE WHEN ($h % 100) < 90 THEN 'train'
         |            WHEN ($h % 100) < 95 THEN 'val' ELSE 'test' END AS split,
         |       lang, CAST(COUNT(*) AS BIGINT) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "sample_temperature" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, lang, ($h % 10000) AS bucket,
         |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_tok
         |  FROM documents),
         |per AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS toks FROM d GROUP BY 1),
         |tot AS (SELECT CAST(SUM(toks) AS DOUBLE) AS tot,
         |               SUM(SQRT(CAST(toks AS DOUBLE))) AS spow,
         |               MIN(toks) AS tmin FROM per),
         |rates AS (SELECT lang,
         |                 CAST(toks AS DOUBLE) / tot AS share,
         |                 SQRT(CAST(toks AS DOUBLE)) / spow AS target,
         |                 CAST(ROUND(SQRT(CAST(tmin AS DOUBLE) / toks) * 10000, 0) AS BIGINT) AS rate_bp
         |          FROM per, tot)
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS toks,
         |       ROUND(r.share, 4) AS share, ROUND(r.target, 4) AS target_share,
         |       r.rate_bp,
         |       CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN bucket < rate_bp THEN n_tok ELSE 0 END) AS BIGINT) AS kept_toks
         |FROM d JOIN rates r USING (lang)
         |GROUP BY d.lang, r.share, r.target, r.rate_bp
         |ORDER BY d.lang""".stripMargin
    },

    "sample_domain_cap" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT doc_id, lang, source,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk
         |  FROM documents),
         |kept AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_kept
         |         FROM r WHERE rk <= 100 GROUP BY 1, 2),
         |tot AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |        FROM documents GROUP BY 1, 2)
         |SELECT source, lang, n_docs, COALESCE(n_kept, 0) AS n_kept
         |FROM tot LEFT JOIN kept USING (source, lang)
         |ORDER BY source, lang""".stripMargin
    },

    "text_seq_pack" -> {
      val h = graft.ops.TextOps.md5LongSql("CAST(doc_id AS VARCHAR)")
      s"""WITH per AS (
         |  SELECT doc_id, lang, ($h % 8) AS shard,
         |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT *, SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM per)
         |SELECT lang, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(CEIL(SUM(n_tok) / 2048.0) AS BIGINT) AS n_windows,
         |       CAST(SUM(CASE WHEN n_tok > 0 AND
         |                  FLOOR((cum - n_tok) / 2048.0) != FLOOR((cum - 1) / 2048.0)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "dedup_snapshot_diff" ->
      s"""WITH $SnapshotCteSql
         |SELECT status, lang, CAST(COUNT(*) AS BIGINT) AS n
         |FROM snap GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the same prev/curr snapshots, applied as an SCD-2 upsert: UNION
    // of the closed/open history rows the Spark side derives from its
    // 2-slot struct explode
    "merge_scd2" ->
      s"""WITH $PrevCurrCteSql,
         |m AS (
         |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
         |         COALESCE(c.lang, p.lang) AS lang,
         |         p.h AS p_h, c.h AS c_h
         |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id),
         |hist AS (
         |  SELECT doc_id, lang, p_h AS h, 1 AS vfrom,
         |         CASE WHEN c_h IS NULL OR c_h != p_h THEN 2 END AS vto
         |  FROM m WHERE p_h IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, lang, c_h, 2, NULL
         |  FROM m WHERE c_h IS NOT NULL AND (p_h IS NULL OR p_h != c_h))
         |SELECT doc_id, lang, h, CAST(vfrom AS INT) AS vfrom,
         |       CAST(vto AS INT) AS vto,
         |       CAST(CASE WHEN vto IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
         |FROM hist ORDER BY doc_id, vfrom""".stripMargin,

    // snapshot diff × funnel verdicts: the CTE namespaces are disjoint
    // (prev/curr/snap vs d/s1../s4), and each chain hash-matches
    // standalone — the composition adds only the verdict LEFT JOIN
    // (added ids sit above max(doc_id), so they never match a cached
    // verdict) and the per-lang work-plan aggregate.
    "pipeline_incremental" ->
      s"""WITH $SnapshotCteSql,
         |$FunnelCteSql
         |SELECT lang,
         |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
         |  CAST(SUM(CASE WHEN status = 'unchanged' AND k.doc_id IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_reuse,
         |  ROUND(CAST(SUM(CASE WHEN status = 'unchanged' AND k.doc_id IS NOT NULL
         |                  THEN 1 ELSE 0 END) AS DOUBLE)
         |        / NULLIF(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END), 0),
         |        4) AS reuse_frac
         |FROM snap LEFT JOIN (SELECT doc_id FROM s4) k ON snap.doc_id = k.doc_id
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "quality_drift" ->
      """WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents),
        |binned AS (
        |  SELECT lang,
        |         CAST(FLOOR((n_chars - mn) * 64.0 / (mx - mn + 1.0)) AS BIGINT) AS bin,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN doc_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM documents, b GROUP BY 1, 2),
        |cdf AS (
        |  SELECT lang, ca, cb,
        |         SUM(ca) OVER (PARTITION BY lang ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |           / NULLIF(CAST(SUM(ca) OVER (PARTITION BY lang) AS DOUBLE), 0) AS fa,
        |         SUM(cb) OVER (PARTITION BY lang ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |           / NULLIF(CAST(SUM(cb) OVER (PARTITION BY lang) AS DOUBLE), 0) AS fb
        |  FROM binned)
        |SELECT lang, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
        |       ROUND(MAX(ABS(fa - fb)), 4) AS ks
        |FROM cdf GROUP BY lang ORDER BY lang""".stripMargin,

    // identical histogram-class arithmetic; the window runs over the
    // frequency classes, never the vocabulary
    "text_vocab_coverage" ->
      """WITH v AS (
        |  SELECT w, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w),
        |hist AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY n),
        |h2 AS (
        |  SELECT n, m,
        |         COALESCE(SUM(m) OVER (ORDER BY n DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
        |  FROM hist),
        |tot AS (SELECT SUM(n * m) AS total, SUM(m) AS n_vocab FROM hist),
        |ks AS (SELECT unnest([5, 10, 20]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(LEAST(k, (SELECT n_vocab FROM tot)) AS BIGINT) AS n_vocab,
        |       ROUND(CAST(SUM(n * GREATEST(0, LEAST(m, k - above))) AS DOUBLE)
        |             / (SELECT total FROM tot), 4) AS coverage
        |FROM h2, ks GROUP BY k ORDER BY k""".stripMargin,

    "text_token_budget" ->
      """WITH per AS (
        |  SELECT lang, source,
        |         CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(toks) AS DOUBLE) AS tot FROM per)
        |SELECT lang, source, toks, ROUND(toks / tot, 4) AS share,
        |       ROUND(SUM(toks) OVER (ORDER BY toks DESC, lang, source
        |         ROWS UNBOUNDED PRECEDING) / tot, 4) AS cum_share
        |FROM per, tot ORDER BY toks DESC, lang, source""".stripMargin
  )
}
