package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.{Stage, Staged}

/**
 * Text-analysis + deduplication operators for large-scale training-data
 * pipelines, over a `documents(doc_id, text, lang, source, n_chars)`
 * table. All operators are pure `org.apache.spark.sql.functions` column
 * expressions (whole-stage codegen; no UDFs) and shuffle only on
 * hash-group keys — no crossJoin anywhere: near-dup candidate generation
 * is banded MinHash-LSH (a bucket equi-join), never all-pairs.
 */
object TextOps {

  /** Lowercased alphanumeric tokens (the BPE-ish tokenizer regex split). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace token count (n_tokens) — robust to repeated whitespace. */
  def nTokens(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish pre-tokenizer: letter runs, digit runs, and punctuation runs
    * as separate tokens (the shape a byte-pair encoder's pre-tokenization
    * regex produces; ASCII classes so Java regex and RE2 oracles agree). */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeTokenPattern), lit(0))

  /** Per-document stats: (doc_id, n_chars2, n_tokens). */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars2"),
      nTokens(col("text")).cast("long").as("n_tokens"))

  /** Token counting under both tokenizers: whitespace (n_ws) and the
    * BPE-ish pre-tokenizer (n_bpe) — the number a training pipeline
    * budgets against. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      nTokens(col("text")).cast("long").as("n_ws"),
      size(bpeTokens(col("text"))).cast("long").as("n_bpe"))

  /** Corpus stats by language: (lang, n_docs, total_chars). */
  def langStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))

  /** Quality heuristics per doc: length, punctuation ratio, mean word
    * length, uppercase ratio — the usual cheap pre-filters. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    docs.select(
      col("doc_id"),
      len.as("n_chars"),
      (length(regexp_replace(col("text"), "[^.,;:!?]", "")) / greatest(len, lit(1d))).as("punct_ratio"),
      (length(regexp_replace(col("text"), "[^A-Z]", "")) / greatest(len, lit(1d))).as("upper_ratio"),
      (len / greatest(nTokens(col("text")).cast("double"), lit(1d))).as("chars_per_token"))
  }

  /** Whitespace-normalized lowercase text — the exact-dedup key. At scale
    * you group on a 128-bit hash of this (xxhash64 pair / md5), not the
    * text itself; at test scale the text keeps the oracle trivial. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact dedup: one surviving doc (min doc_id) per normalized text,
    * with the group size. Hash-groupBy ⇒ one shuffle on the dedup key,
    * map-side partial aggregation. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("group_size"))

  /**
   * URL canonicalization — the first pass over any web corpus, where
   * the same page hides behind scheme/host case, `www.`, default
   * ports, tracking parameters, parameter order, trailing slashes and
   * fragments. Rules (each a portable regex/array op — Java regex and
   * DuckDB's RE2 agree on every pattern used):
   *
   *  - scheme and host lowercased; path kept case-sensitive
   *  - leading `www.` stripped from the host
   *  - default port stripped (`:80` for http, `:443` for https)
   *  - tracking params dropped (`utm_*`, `gclid`, `fbclid`, `msclkid`,
   *    `ref`, `mc_cid`, `mc_eid`), the rest SORTED and rejoined —
   *    parameter order never distinguishes two URLs
   *  - trailing slashes collapsed (bare authority → `/`)
   *  - fragment dropped
   *
   * Pure column expression (whole-stage codegen, no UDF): safe to
   * evaluate per row at any scale.
   */
  def canonicalUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host0 = regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val path0 = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val params = filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"), p =>
      p =!= "" && !p.rlike("^(utm_[a-z]+|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)="))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** URL-level dedup over [[canonicalUrl]] — one surviving row (min
    * `doc_id`) per canonical URL with the collision count: the daily
    * web-ingest first pass, upstream of content dedup ([[dedupExact]],
    * MinHash) since it needs no text at all. Same scale shape as
    * [[dedupExact]]: ONE hash-groupBy shuffle on the canonical key,
    * map-side combined. Composes with [[dedupIncremental]] by
    * substituting the canonical URL for the normalized text as the
    * batch-vs-history key. Returns (url_canon, keep_doc_id, n_dups). */
  def dedupUrls(docs: DataFrame, url: Column): DataFrame =
    docs.groupBy(canonicalUrl(url).as("url_canon"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** Canonical host of a URL (post-[[canonicalUrl]] authority) — the
    * grouping key for domain-level curation. */
  def canonicalHost(url: Column): Column =
    regexp_extract(canonicalUrl(url), "^[a-z0-9+.-]*://([^/]*)", 1)

  /**
   * Incremental URL dedup — [[dedupIncremental]]'s daily-ingest shape
   * keyed by the canonical URL instead of the normalized text: dedup
   * the NEW crawl batch within itself (min doc_id per canonical URL),
   * then drop every canonical URL the accumulated corpus already holds
   * — the first pass of a daily web-ingest, upstream of content dedup
   * since it reads no text at all. Returns the surviving batch rows as
   * (doc_id, url_canon, batch_dups).
   *
   * Scale shape: identical to [[dedupIncremental]] — one hash-group on
   * the batch + one anti-join that shuffles the BATCH to the (bucketed,
   * shuffle-free) history layout, never the reverse; at 100 TB the
   * history side is a bucketed table of 8-byte url digests.
   */
  def dedupUrlsIncremental(newBatch: DataFrame, history: DataFrame,
      urlCol: String = "url"): DataFrame =
    newBatch
      .groupBy(canonicalUrl(col(urlCol)).as("url_canon"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"))
      .join(history.select(canonicalUrl(col(urlCol)).as("url_canon")).distinct(),
        Seq("url_canon"), "left_anti")
      .select(col("doc_id"), col("url_canon"), col("batch_dups"))

  /**
   * Per-host corpus audit — the table a domain-level curation pass
   * (RefinedWeb-style blocklists, host quotas) reads: for each
   * canonical host, the doc count, distinct canonical-URL count
   * (pages), distinct normalized-text count (unique content — the gap
   * to n_docs is the host's exact-dup mass), and total chars. All
   * integer-exact.
   *
   * Scale shape: ONE aggregation keyed by host; the two exact distinct
   * counts plan as Spark's Expand (×3 row multiply before the
   * map-side combine) — at 100 TB swap them for `graft_hll` sketches
   * (the portable HLL aggregate) and keep the single shuffle; this
   * exact form is the oracle anchor.
   */
  def hostStats(docs: DataFrame, url: Column): DataFrame =
    docs
      .select(canonicalHost(url).as("host"),
        canonicalUrl(url).as("url_canon"),
        normText(col("text")).as("norm"),
        length(col("text")).cast("long").as("len"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_canon")).as("n_pages"),
        countDistinct(col("norm")).as("n_texts"),
        sum(col("len")).as("sum_chars"))

  /** Distinct word 3-gram shingles from a TOKEN-ARRAY ATTRIBUTE. The
    * argument must be a materialized column, not an expression: `t` is
    * referenced size(t)+2 times here, and Spark inlines (re-evaluates)
    * expression arguments per reference inside lambda bodies — passing
    * `tokens(text)` directly makes tokenization O(tokens²) per doc
    * (measured 12s → 0.3s for 5k docs when staged). */
  def shinglesFromTokens(t: Column, n: Int = 3): Column =
    when(size(t) >= n,
      array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Convenience for small inputs/tests; see [[shinglesFromTokens]] for
    * the staged form used by the pipeline. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** MinHash signature. The `numHashes` hash family is derived as
    * h_i(s) = (h1(s) + i·h2(s)) mod p (Kirsch–Mitzenmacher double
    * hashing, p = 2³¹−1): two xxhash64 evaluations per shingle instead
    * of `numHashes` — measured ~7× faster at 5k docs. Built-ins only,
    * stays inside codegen.
    *
    * The `mod p` is LOAD-BEARING, not a formality (round-9 catch):
    * without it h_i is affine in i, so the per-position argmin follows
    * the lower envelope of |shingles| lines — a handful of distinct
    * argmin shingles across all 128 positions instead of 128
    * independent draws. Measured on a J≈0.82 pair: 1/128 positions
    * agreed unreduced (whole signatures diverge whenever ONE envelope
    * shingle differs) vs ≈J·128 with the mod. The wraparound destroys
    * the envelope structure, restoring per-position independence. */
  /** Per-shingle (h1, h2) hash pairs — masked to 32 bits so h1 + i·h2
    * stays well inside a long under ANSI arithmetic (no wrapping overflow
    * in Spark 4's default mode). */
  def hashPairs(sh: Column): Column =
    transform(sh, s => struct(
      xxhash64(s, lit(0)).bitwiseAND(0xFFFFFFFFL).as("h1"),
      xxhash64(s, lit(1)).bitwiseAND(0xFFFFFFFFL).as("h2")))

  /** Engine-portable (h1, h2): the two 32-bit halves of md5's leading
    * 16 hex chars — same uint32 range as [[hashPairs]] so the KM family
    * arithmetic is identical, but any engine with md5 re-derives the
    * values bit-for-bit (the [[dedupEditPairs]] oracle replays the
    * whole banded candidate stage this way; §planesCte discipline). */
  def portableHashPairs(sh: Column): Column =
    // inner transform stages each md5 ONCE (expression references are
    // re-evaluated per use inside lambda bodies — the shinglesFromTokens
    // lesson); the outer lambda then slices the staged hex
    transform(transform(sh, s => md5(s)), m => struct(
      conv(substring(m, 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(m, 9, 8), 16, 10).cast("long").as("h2")))

  /** The KM modulus: 2³¹−1 (Mersenne prime). Small enough that the
    * ≤2³⁹ affine values wrap many times (see the family note above),
    * large enough that min-collisions stay negligible. Single source
    * with the native expression's constant. */
  private[graft] val MinHashP = graft.functions.MinHashSignature.P

  /** Signature from a HASH-PAIR ATTRIBUTE (staged — see
    * [[shinglesFromTokens]] for why the argument must be materialized:
    * it is referenced numHashes times). */
  def signatureFromPairs(hp: Column, numHashes: Int = 128): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hp,
        p => (p.getField("h1") + i * p.getField("h2")) % MinHashP)))

  def minhashSignature(sh: Column, numHashes: Int = 128): Column =
    signatureFromPairs(hashPairs(sh), numHashes)

  /** Signature via the native codegen'd [[graft.functions.MinHashSignature]]
    * when the graft session extension is loaded (one fused loop per row —
    * the HOF form runs numHashes·|shingles| interpreted lambda frames);
    * HOF composition otherwise. The native form returns NULL for an empty
    * shingle set, keeping sub-3-token docs out of the banded join
    * entirely (the HOF form's all-null signatures made them collide in
    * every bucket, quadratic candidate noise the verify stage filtered). */
  def signatureBest(spark: org.apache.spark.sql.SparkSession,
                    hp: Column, numHashes: Int = 128): Column =
    if (graft.functions.GraftExtensions.loadedIn(spark))
      call_function("graft_minhash", hp, lit(numHashes))
    else when(size(hp) > 0, signatureFromPairs(hp, numHashes))

  /**
   * Near-duplicate pairs via banded MinHash-LSH, verified with exact
   * Jaccard: returns (a, b, jac) with a < b and Jaccard(shingles) ≥
   * `threshold`.
   *
   * Scale design (the whole point): candidate generation is
   *   sig → `bands` band-hashes → explode → self-equi-join on
   *   (band, bandHash)
   * so two docs meet ONLY if some band collides — work is proportional to
   * bucket sizes, never |docs|². With numHashes=128, bands=32 (r=4), a
   * pair at J=0.8 is caught with p ≈ 1−(1−0.8⁴)³² ≈ 1−5·10⁻⁸. The final
   * exact-Jaccard join re-reads only candidate pairs' shingle sets.
   */
  def dedupMinHashLsh(docs: DataFrame, threshold: Double = 0.8,
                      numHashes: Int = 128, bands: Int = 32): DataFrame = Staged.run { stage =>
    val (sh, banded) = lshStages(stage, docs, numHashes, bands)

    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

    val withSets = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
    val union = size(array_union(col("sha"), col("shb"))).cast("double")
    val out = withSets
      .where(size(col("sha")) > 0 && size(col("shb")) > 0) // no 0/0 NaN
      .withColumn("jac", inter / union)
      .where(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 3).as("jac"))
    out.localCheckpoint(true)
  }

  /** Staged shingle-set + banded-signature tables for a doc set — the
    * shared candidate-generation front end of [[dedupMinHashLsh]] and
    * [[dedupIncrementalLsh]]. Returns (sh = (doc_id, sh), banded =
    * (doc_id, band, bh)), staged in the caller's scope. The stages are
    * materialization BARRIERS,
    * not just caches: every stage's heavy array expression is
    * multi-referenced by the next stage's lambdas, and Spark
    * re-evaluates expression (not attribute) references per use —
    * unstaged, tokenization alone goes O(tokens²) and the signature is
    * recomputed per band (measured 100× total slowdown at 5k docs). */
  private def lshStages(stage: Stage, docs: DataFrame, numHashes: Int, bands: Int,
                        portable: Boolean = false): (DataFrame, DataFrame) = {
    val r = numHashes / bands
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val sh = stage(toks.select(col("doc_id"), shinglesFromTokens(col("t")).as("sh")))
    val hp = stage(sh.select(col("doc_id"),
        (if (portable) portableHashPairs(col("sh")) else hashPairs(col("sh"))).as("hp")))
    val sig = stage(hp.select(col("doc_id"),
        signatureBest(docs.sparkSession, col("hp"), numHashes).as("sig")))
    // band hash: xxhash64 (cheapest) by default; md5 of the
    // comma-joined band slice when the oracle must replay the buckets
    def bandHash(b: Column): Column =
      if (portable) md5(concat_ws(",", slice(col("sig"), b * r + 1, lit(r)).cast("array<string>")))
      else xxhash64(slice(col("sig"), b * r + 1, lit(r)), b)
    // sig IS NULL = no shingles (sub-3-token doc): keep it out of the
    // banded join EXPLICITLY — hash-of-null is a per-band constant in
    // both families (md5("")/xxhash64(seed)), which would bucket every
    // shingle-less doc together; the oracle replays "≥1 shingle only"
    val banded = stage(sig.where(col("sig").isNotNull)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), bandHash(b).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh")))
    (sh, banded)
  }

  /**
   * Incremental NEAR-dup — the minhash twin of [[dedupIncremental]]:
   * today's batch against the accumulated corpus's LSH band index.
   * Returns (doc_id, dup_of, jac): each batch doc paired with every
   * history doc whose exact shingle Jaccard ≥ `threshold`, candidates
   * generated by the (band, bandHash) equi-join — never batch×history.
   *
   * Scale shape: in production the history side of this join IS the
   * persisted band index (the banded table saved bucketed by its join
   * key, the bucketed layout of [[graft.log.FactLog]] —
   * ~bands rows per corpus doc, append-only as batches land), so the
   * nightly run computes signatures for the BATCH only and joins
   * shuffle-free against history's layout; history text is touched only
   * for the candidates' verify stage, via the same bucketed point-read
   * path. Here both sides derive from the documents table so the DuckDB
   * twin can replay the whole contract (exact cross-set Jaccard).
   */
  def dedupIncrementalLsh(newBatch: DataFrame, history: DataFrame,
                          threshold: Double = 0.8,
                          numHashes: Int = 128, bands: Int = 32): DataFrame = Staged.run { stage =>
    val (bSh, bBanded) = lshStages(stage, newBatch, numHashes, bands)
    val (hSh, hBanded) = lshStages(stage, history, numHashes, bands)

    val cand = bBanded.as("x").join(hBanded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("dup_of"))
      .distinct()

    val withSets = cand
      .join(bSh.select(col("doc_id"), col("sh").as("shb")), "doc_id")
      .join(hSh.select(col("doc_id").as("dup_of"), col("sh").as("shh")), "dup_of")
    val inter = size(array_intersect(col("shb"), col("shh"))).cast("double")
    val union = size(array_union(col("shb"), col("shh"))).cast("double")
    val out = withSets
      .where(size(col("shb")) > 0 && size(col("shh")) > 0)
      .withColumn("jac", inter / union)
      .where(col("jac") >= threshold)
      .select(col("doc_id"), col("dup_of"), round(col("jac"), 3).as("jac"))
    out.localCheckpoint(true)
  }

  /**
   * Per-source duplication pressure: of each source's docs, how many
   * would a cluster-collapse dedup ([[dedupClusters]]) drop — the audit
   * that tells you WHICH feed is internally duplicated before you pay
   * for its ingestion. Composition: the memoized LSH pair graph → CC
   * clusters → per-source drop counts; integers up to one division.
   */
  def dupRatioBySource(docs: DataFrame, threshold: Double = 0.8): DataFrame = Staged.run { stage =>
    val clusters = stage.own(dedupClusters(docs, threshold))
    docs.select(col("doc_id"), col("source"))
      .join(clusters.select(col("doc_id"), col("keep")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("keep"), 0L).otherwise(1L)).cast("long").as("n_dupes"))
      .select(col("source"), col("n_docs"), col("n_dupes"),
        round(col("n_dupes").cast("double") / col("n_docs"), 4).as("dup_ratio"))
      .localCheckpoint(true)
  }

  /**
   * Decontamination-effectiveness audit: per EVAL doc, the fraction of
   * its distinct word n-gram shingles that appear ANYWHERE in the
   * training corpus. An eval doc with high coverage is compromised even
   * when no single training doc matched it — assembled leakage across
   * many train docs, which the pairwise passes ([[decontaminate]],
   * [[decontaminateLsh]], [[decontaminateSemantic]]) cannot see.
   *
   * Scale shape: one distinct over the train gram relation (the
   * decontaminate backbone), one gram-keyed LEFT join of the (small)
   * eval grams against it, one eval-doc-keyed count. Integers up to a
   * single division (round 4).
   */
  def evalCoverage(train: DataFrame, evalDocs: DataFrame,
                   n: Int = 3): DataFrame = Staged.run { stage =>
    val trainToks = stage(train.select(tokens(col("text")).as("t")))
    val evalToks = stage(evalDocs.select(col("doc_id"), tokens(col("text")).as("t")))
    val trainGrams = trainToks
      .select(explode(shinglesFromTokens(col("t"), n)).as("gram")).distinct()
      .withColumn("hit", lit(1L))
    val evalGrams = evalToks
      .select(col("doc_id"), explode(shinglesFromTokens(col("t"), n)).as("gram"))
    val perDoc = evalGrams
      .join(trainGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_covered"))
    evalDocs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_covered").cast("double") / col("n_grams"), 4)))
      .localCheckpoint(true)
  }

  /**
   * NEAR-duplicate decontamination — the MinHash member of the
   * decontamination family (exact n-gram [[decontaminate]], Bloom
   * two-phase [[decontaminateBloom]], embedding
   * [[decontaminateSemantic]]): drop every training doc whose exact
   * shingle Jaccard to ANY eval doc ≥ `threshold`. Catches lightly
   * edited eval copies that the exact n-gram test over-flags and the
   * semantic test under-specifies. Candidates come from the banded LSH
   * equi-join ([[dedupIncrementalLsh]] with the eval set as "history")
   * — never train×eval.
   *
   * ORACLE_SKIP-at-scale note (ADVICE r10): the banded candidate stage
   * has the standard LSH false-NEGATIVE probability (a truly ≥ threshold
   * pair whose 32 band hashes all differ is missed), while the DuckDB
   * twin is exact all-pairs Jaccard — at scaled data or other
   * band/hash settings the two can diverge on such a pair. Same accepted
   * class as [[dedupIncrementalLsh]]; the sf0.01 gate passes, and a
   * scaled-gate miss here is the known estimator gap, not a regression.
   */
  def decontaminateLsh(docs: DataFrame, evalDocs: DataFrame,
                       threshold: Double = 0.8): DataFrame = {
    val hits = dedupIncrementalLsh(docs, evalDocs, threshold)
      .select(col("doc_id")).distinct()
    docs.join(hits, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Production fuzzy dedup: collapse near-dup PAIRS into transitive
    * CLUSTERS and pick one representative per cluster — "a~b, b~c"
    * must keep one of {a,b,c}, not run two independent pair drops.
    * Composition: [[dedupMinHashLsh]] candidate pairs (banded LSH +
    * exact-Jaccard verify) → GraphX `connectedComponents` over the PAIR
    * graph only (the component id is the min doc_id, which IS the
    * representative) → a left join assigns every corpus doc its cluster.
    * Scale shape: the pair graph is orders of magnitude smaller than the
    * corpus (that is the point of LSH), so the iterative CC rounds touch
    * only near-dup docs; the corpus-side cost is one equi-join on doc_id.
    * Returns (doc_id, cluster_id, keep) for EVERY document — singletons
    * are their own cluster and always kept. */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame = Staged.run { stage =>
    val spark = docs.sparkSession
    val pairs = stage.own(dedupMinHashLsh(docs, threshold))
    // the pair graph is orders of magnitude smaller than the corpus —
    // coalesce so the CC Pregel rounds aren't task-overhead-bound at the
    // corpus partitioning (same measured effect as GraphXTraversal)
    val edges = pairs.select(col("a"), col("b")).rdd
      .map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
      .coalesce(8)
    // both graphs cache their vertices and edges; they and the pairs are
    // released once the result materializes
    val cc = stage.own(stage.own(org.apache.spark.graphx.Graph.fromEdges(edges, ()))
      .connectedComponents()).vertices
    val compDF = spark.createDataFrame(cc).toDF("doc_id", "cluster_id")
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(compDF, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .localCheckpoint(true)
  }

  /** Best-keeper variant of [[dedupClusters]]: same transitive
    * near-dup clusters, but the kept representative is the LONGEST
    * document (max n_chars, ties to the smaller doc_id) — the usual
    * curation policy when a near-dup group mixes truncated and full
    * versions of the same page, where min-doc_id would happily keep
    * the truncation. Exact integer contract: the argmax is
    * max(struct(n_chars, −doc_id)), no floats anywhere. Cost past the
    * cluster assignment: one cluster-keyed aggregation (map-side
    * combined; almost every cluster is a singleton, so the shuffle
    * carries ~corpus rows of three longs) + one cluster-keyed
    * equi-join. Returns (doc_id, cluster_id, keep) for EVERY doc. */
  def dedupKeepBest(docs: DataFrame, threshold: Double = 0.8): DataFrame = Staged.run { stage =>
    val cl = stage.own(dedupClusters(docs, threshold)).select(col("doc_id"), col("cluster_id"))
    // BOTH the argmax and the final join read `sized` — materialize it
    // once (eager localCheckpoint) or each reference re-runs the whole
    // LSH + CC cluster pipeline upstream (measured 11 s vs the 1.3 s
    // dedup_clusters itself costs at sf0.1 — the CollapseProject /
    // shared-subplan re-evaluation disease, §16)
    val sized = stage.checkpoint(cl.join(
      docs.select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars")), "doc_id"))
    val best = sized.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("cluster_id"), (-col("b.nd")).as("best_doc"))
    sized.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("best_doc")).as("keep"))
      .localCheckpoint(true)
  }

  /** Per-token 64-bit hashes — stage THIS as an attribute before
    * [[simhashFromHashes]]: the bit sums reference each hash 64 times
    * (once per bit), and hashing inside that lambda would xxhash every
    * token 64× (measured ~48M redundant hash calls over 5k docs). */
  /** Per-token 64-bit hashes for SimHash, derived from md5 (two 32-bit
    * hex halves recombined): md5 is computable bit-identically in DuckDB,
    * which is what upgrades `dedup_simhash` from a rows-only row to a
    * full oracle row — the twin re-derives signatures, bands, and
    * hamming distances from the raw table with pure integer math.
    * xxhash64 would be cheaper per token but has no DuckDB twin; any
    * uniform 64-bit hash gives equivalent SimHash quality, and the
    * signature cost is dominated by the 64 bit-sum folds either way. */
  def tokenHashes(t: Column): Column = transform(t, { tok =>
    val m = md5(tok)
    val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  })

  /**
   * Exact top-k text similarity search: for each (small) query doc, the
   * `k` most similar corpus docs by word-3-gram Jaccard — the text twin
   * of [[VectorOps.bruteForceTopK]]. The query side's shingle sets are
   * broadcast against the corpus (the corpus is never shuffled; correct
   * at 100 TB corpus size while the query batch stays small). For
   * all-pairs NEAR-DUP detection use [[dedupMinHashLsh]] — banded LSH
   * prunes candidates; this is the exact-scoring path for ad-hoc
   * "find documents like this one" lookups.
   */
  def similarDocs(corpus: DataFrame, queries: DataFrame,
                  k: Int = 10): DataFrame = Staged.run { stage =>
    // token barrier first (shinglesFromTokens multi-references its arg;
    // collapsed, tokenization would go O(tokens²) per doc)
    val toks = stage(corpus.select(col("doc_id"), tokens(col("text")).as("t")))
    val sh = stage(toks.select(col("doc_id"), shinglesFromTokens(col("t")).as("sh")))
    val q = broadcast(queries.select(col("doc_id").as("q"), tokens(col("text")).as("t"))
      .select(col("q"), shinglesFromTokens(col("t")).as("qsh")))
    val inter = size(array_intersect(col("qsh"), col("sh"))).cast("double")
    val union = (size(col("qsh")) + size(col("sh"))).cast("double") - inter
    val scored = sh.select(col("doc_id").as("nb"), col("sh"))
      .join(q, col("q") =!= col("nb")) // broadcast nested-loop: query side tiny
      .where(size(col("qsh")) > 0 && union > 0)
      .withColumn("jac", inter / union)
      .select(col("q"), col("nb"), col("jac"))
    // two-phase rank (VectorOps.groupedTopK): map-side ≤k heaps instead
    // of funnelling every scored corpus doc of a query through one sort
    VectorOps.groupedTopK(scored, "q", "nb", "jac", k)
      .select(col("q"), col("nb"), round(col("jac"), 4).as("jac"))
      .localCheckpoint(true)
  }

  /** 64-bit SimHash from a staged per-token HASH-ARRAY ATTRIBUTE: bit j
    * is the sign of Σ_tokens (bit_j(hash)·2−1). Pure column expressions:
    * nested higher-order functions, no UDF. */
  def simhashFromHashes(ht: Column): Column = {
    val bitSums = transform(sequence(lit(0), lit(63)), j =>
      aggregate(ht, lit(0L),
        (acc, h) => acc + call_function("shiftright", h, j).bitwiseAND(1L) * 2L - 1L))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  def simhashFromTokens(t: Column): Column = simhashFromHashes(tokenHashes(t))

  /** Convenience for small inputs/tests. */
  def simhash(text: Column): Column = simhashFromTokens(tokens(text))

  /** SimHash near-dup candidates: split the 64-bit fingerprint into 4
    * 16-bit bands; docs agreeing on any band (≤3 differing bands ⇒
    * hamming ≤ 48, and in practice hamming ≤ 3 pairs collide on ≥1 exact
    * band) meet in a bucket equi-join. Returns (a, b, hamming ≤ maxHam). */
  /** Relational SimHash fingerprints (doc_id, fp) — the codegen form of
    * per-doc [[simhashFromTokens]], spec-pinned equal to it
    * (PipelineSpec): explode tokens to rows, md5 once per token as a
    * codegen'd scalar, one hash aggregation with 64 codegen'd bit sums,
    * fingerprint bit j = 2·Σbit_j > n (the fold's sign(Σ(2b−1)) on the
    * same exact integers). Empty/absent token arrays keep fp = 0 via
    * explode_outer + the null-count path. */
  private[graft] def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tokRows = docs
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), when(col("tok").isNotNull, {
        val m = md5(col("tok"))
        val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
        val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
        shiftleft(hi, 32).bitwiseOR(lo)
      }).as("h"))
    val bitSums = tokRows.groupBy(col("doc_id")).agg(
      count(col("h")).as("n"),
      (0 to 63).map(j =>
        sum(call_function("shiftright", col("h"), lit(j)).bitwiseAND(lit(1L)))
          .as(s"s$j")): _*)
    val fpBits = (0 to 63).map(j =>
      when(lit(2L) * col(s"s$j") > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    bitSums.select(col("doc_id"), fpBits.as("fp"))
  }

  def simhashPairs(docs: DataFrame, maxHam: Int = 3): DataFrame = Staged.run { stage =>
    // r14 OPTIMIZATION (guide §1.2 per-task work / §4.1 codegen): the
    // fingerprint used to be built from per-doc HASH ARRAYS — an
    // interpreted `transform` md5 per element feeding 64 interpreted
    // `aggregate` folds per doc (higher-order lambdas are
    // CodegenFallback: every token paid 64 virtual-dispatch fold steps).
    // Same integers, relational form: explode tokens to rows, md5 each
    // once as a codegen'd scalar, then ONE hash aggregation with 64
    // codegen'd bit sums; bit j of the fingerprint is 2·Σbit_j > n —
    // identical to the fold's sign(Σ(2b−1)) on exact integer arithmetic
    // (spec-pinned against simhashFromHashes). Empty-token docs keep
    // fp = 0 via explode_outer + the null-count path, exactly as the
    // fold's empty aggregate did. Measured 2.75 → 1.37 s at sf0.1.
    // fp is referenced by 4 band projections and both self-join sides —
    // keep its barrier.
    val fp = stage(simhashFingerprints(docs))
    val banded = fp.select(col("doc_id"), col("fp"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"),
          call_function("shiftright", col("fp"), b.cast("int") * 16).bitwiseAND(0xFFFFL).as("bh"))))
        .as("bb"))
      .select(col("doc_id"), col("fp"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val ham = {
      val x = col("x.fp").bitwiseXOR(col("y.fp"))
      bit_count(x)
    }
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), ham.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHam)
      .localCheckpoint(true)
  }

  /** n-gram-frequency language-ID heuristic: scores text against small
    * per-language stopword lists, picks the argmax (with 'und' when
    * nothing matches). Pure column expressions. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est", "un", "une", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "y", "de", "es", "un", "una", "por", "con"))

  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = stopwords.toSeq.map { case (lang, ws) =>
      struct(size(array_intersect(t, array(ws.map(lit): _*))).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling-hash document fingerprint (content-defined): xxhash64 of the
    * normalized text — cheap identity for exact-dup clustering at scale. */
  def fingerprint(text: Column): Column = xxhash64(normText(text))

  /** Engine-portable fingerprint: md5 hex of the normalized text. Same
    * identity contract as [[fingerprint]] but every engine computes the
    * identical value (r10: this is the registered `doc_fingerprint`, so
    * the driver hash-matches it instead of the rows-only fallback);
    * xxhash64 stays the in-plan default where only Spark consumes it. */
  def fingerprintPortable(text: Column): Column = md5(normText(text))

  /**
   * Per-document repetition signals — the Gopher-style quality filters
   * that catch boilerplate and degenerate generations:
   * (doc_id, n_tokens, distinct_ratio, top_token_ratio,
   * bigram_distinct_ratio).
   *
   * Token frequencies go through explode → two hash aggregations (linear
   * per token, map-side partials) rather than an O(tokens²)
   * count-per-distinct-token lambda — at 100 TB the shuffle is on
   * (doc_id, token), never quadratic per row. The bigram ratio reuses the
   * staged token attribute ([[shinglesFromTokens]] re-eval trap).
   */
  def repetitionStats(docs: DataFrame): DataFrame = Staged.run { stage =>
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val freq = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    toks.join(freq, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
        round(coalesce(col("n_distinct") / col("n_tokens"), lit(0d)), 4)
          .as("distinct_ratio"),
        round(coalesce(col("top_c") / col("n_tokens"), lit(0d)), 4)
          .as("top_token_ratio"),
        when(size(col("t")) >= 2,
          round(size(shinglesFromTokens(col("t"), 2)).cast("double") /
            (size(col("t")) - 1), 4))
          .otherwise(lit(1d)).as("bigram_distinct_ratio"))
      .localCheckpoint(true)
  }

  // PII patterns shared with the DuckDB oracle: ASCII classes + \b only,
  // so Java regex (Spark) and RE2 (DuckDB) match identically.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\b\\d{3}-\\d{3,4}-\\d{4}\\b"

  /** PII scrubbing: count and redact emails, IPv4 addresses and
    * NNN-NNN(N)-NNNN phone numbers in `textCol` — pure regexp column
    * expressions (codegen'd, embarrassingly parallel; the shape every
    * training-data pipeline runs before anything else). Counts are taken
    * on the original text; redaction applies email → ip → phone, whose
    * patterns are mutually exclusive. */
  def piiRedact(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(emailPattern)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(ipv4Pattern)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(phonePattern)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, emailPattern, "[EMAIL]"),
            ipv4Pattern, "[IP]"),
          phonePattern, "[PHONE]"))
  }

  /**
   * Deterministic train/val/test assignment by id hash — the reproducible
   * split every training pipeline needs. The bucket is Knuth multiplicative
   * hashing over the id FOLDED TO 31 BITS first:
   * (((id mod 2³¹)·2654435761) mod 2³²) mod 100 — the fold keeps the
   * multiply inside a long under ANSI arithmetic and keeps negative ids out
   * of the train bucket (see the inline note), at the cost that ids exactly
   * 2³¹ apart share a bucket (irrelevant for uniformity; documented so the
   * formula is reproducible elsewhere). Stable across runs, engines and
   * partitionings (pure arithmetic — the DuckDB oracle reproduces it
   * bit-for-bit); rows never shuffle, the split is a projection.
   * trainPct + valPct < 100; the rest is test.
   */
  def splitAssign(df: DataFrame, idCol: String,
                  trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct < 100, "train + val must leave room for test")
    // pmod to 31 bits BEFORE the multiply: (2³¹−1)·2654435761 still fits a
    // long, while a raw 64-bit id would overflow (ANSI mode throws) and a
    // negative id would produce a negative bucket that silently lands
    // every such row in 'train'
    val bucket =
      ((pmod(col(idCol), lit(2147483648L)) * lit(2654435761L)) %
        lit(4294967296L)) % lit(100L)
    df.withColumn("bucket", bucket.cast("long"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /**
   * Leakage-safe split: hash-split by NEAR-DUP CLUSTER instead of by
   * document, so two near-duplicate documents can never land on opposite
   * sides of a train/test boundary (the classic eval-leakage bug a plain
   * per-doc split has by construction — a doc and its 0.9-Jaccard copy
   * are independent coin flips there). Composition: [[dedupClusters]]
   * (LSH pairs → connected components → cluster_id = min doc_id) then
   * [[splitAssign]] keyed on `cluster_id` — every member inherits its
   * cluster's split. Singletons hash as themselves, so on a dup-free
   * corpus this degrades to exactly `splitAssign`. Scale shape is the
   * sum of its parts: banded candidate join + CC over the tiny pair
   * graph + one projection; the corpus never shuffles for the split
   * itself. Returns (doc_id, cluster_id, keep, split).
   */
  def splitLeakageSafe(docs: DataFrame, threshold: Double = 0.8,
                       trainPct: Int = 90, valPct: Int = 5): DataFrame = Staged.run { stage =>
    splitAssign(stage.own(dedupClusters(docs, threshold)), "cluster_id", trainPct, valPct)
      .select(col("doc_id"), col("cluster_id"), col("keep"), col("split"))
      .localCheckpoint(true)
  }

  /**
   * Fixed-size token chunking with stride (overlap = chunkTokens −
   * stride): the sequence-packing step before tokenizer/embedding stages.
   * Emits (doc_id, chunk_id, chunk, n_chunk_tokens) — one row per window
   * start 0, stride, 2·stride … while < n_tokens. Chunks are derived with
   * sequence → slice over a STAGED token attribute (each chunk slices the
   * materialized array; unstaged, Spark would re-tokenize per chunk), and
   * the explode is the only row multiplier — no shuffle at all.
   */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 50,
                stride: Int = 40): DataFrame = Staged.run { stage =>
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= 1))
    val nChunks = floor((size(col("t")) - 1) / lit(stride)) + 1
    toks
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), nChunks - 1), i =>
          struct(i.as("chunk_id"),
            concat_ws(" ", slice(col("t"), (i * stride + 1).cast("int"), lit(chunkTokens)))
              .as("chunk"),
            least(lit(chunkTokens), size(col("t")) - i.cast("int") * stride)
              .cast("long").as("n_chunk_tokens")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk"), col("c.n_chunk_tokens"))
      .localCheckpoint(true)
  }

  /**
   * Two-phase decontamination: a Bloom-filter PREFILTER over the eval
   * n-gram set, then the exact join only on surviving candidates — the
   * same (doc_id, n_hits) contract as [[decontaminate]] (blooms have no
   * false negatives, and the verify join removes the false positives),
   * so the two share one oracle.
   *
   * Why this exists: at 100 TB the eval gram set can reach 10⁸ rows ×
   * ~100 bytes — too big to broadcast as a hash relation — while its
   * Bloom filter at 10 bits/item is ~125 MB and membership is a codegen
   * expression evaluated as the train grams stream by. The bloom build
   * is ONE aggregation (Spark's own BloomFilterAggregate, exposed as
   * `graft_bloom_agg` by the graft extension); only the prefiltered
   * sliver reaches the exact join. Here the filter ships as a plan
   * literal; at the 125 MB scale you'd stage it through a broadcast
   * variable — same plan shape.
   */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, n: Int = 13,
                         expectedItems: Long = 100000L,
                         numBits: Long = 800000L): DataFrame = Staged.run { stage =>
    val spark = train.sparkSession
    require(graft.functions.GraftExtensions.loadedIn(spark),
      "decontaminateBloom needs the graft session extension (graft_bloom_agg)")
    val evalToks = stage(eval.select(tokens(col("text")).as("t")))
    val trainToks = stage(train.select(col("doc_id"), tokens(col("text")).as("t")))
    // distinct eval grams feed BOTH the bloom build and the verify join
    val evalGrams = stage(evalToks
      .select(explode(shinglesFromTokens(col("t"), n)).as("gram")).distinct())
    val bloomRow = evalGrams.agg(call_function("graft_bloom_agg",
      xxhash64(col("gram")), lit(expectedItems), lit(numBits)).as("bf")).head()
    val out =
      if (bloomRow.isNullAt(0)) spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_hits")).limit(0)
      else trainToks
        .select(col("doc_id"), explode(shinglesFromTokens(col("t"), n)).as("gram"))
        .where(call_function("graft_might_contain",
          lit(bloomRow.getAs[Array[Byte]]("bf")), xxhash64(col("gram"))))
        .join(broadcast(evalGrams), Seq("gram")) // exact verify: FPs drop here
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits")) // grams are pre-distinct per doc
    out.localCheckpoint(true)
  }

  /**
   * Cross-document CHUNK-level exact dedup — the paragraph-dedup pass
   * (C4-style "three-sentence span" dedup, over token windows here):
   * chunk every doc with [[chunkDocs]], then collapse identical chunks
   * corpus-wide, keeping the lexicographically first (doc_id, chunk_id)
   * owner. Returns one row per DUPLICATED chunk: (doc_id, chunk_id,
   * n_copies ≥ 2) of the kept owner.
   *
   * Scale shape: one hash-groupBy shuffle keyed on the chunk text (at
   * 100 TB: on xxhash64 of it — 8-byte keys, collision re-check like
   * the LSH verify stage), map-side partial min/count; the chunker
   * itself is shuffle-free. This catches the sub-document boilerplate
   * (headers, license blocks, navigation) that whole-doc dedup never
   * sees, which is why pipelines run both.
   */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 50, stride: Int = 40): DataFrame =
    chunkDocs(docs, chunkTokens, stride)
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("keep"),
        count(lit(1)).as("n_copies"))
      .where(col("n_copies") >= 2)
      .select(col("keep.doc_id").as("doc_id"), col("keep.chunk_id").as("chunk_id"),
        col("n_copies"))

  /**
   * Temperature-scaled mixture weights per source — the sampling-ratio
   * table a multi-source pretraining run is configured from (the
   * multilingual/LLM data-mixing rule: wₛ ∝ nₛ^α with α < 1 upweights
   * small sources; α = 1 is proportional, α = 0 uniform). For a target
   * corpus of `budgetDocs` documents, emits per source: size, token
   * mass, normalized weight, the expected draw count, and the implied
   * epoch count over that source (> 1 ⇒ the source repeats).
   *
   * Scale shape: ONE count/sum aggregation over the corpus (map-side
   * combined, output rows = #sources — a dimension), then a single-row
   * broadcast join for the normalizer. Nothing corpus-sized moves.
   */
  def mixtureWeights(docs: DataFrame, alpha: Double = 0.5,
                     budgetDocs: Long = 1000L): DataFrame = {
    val counts = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(nTokens(col("text"))).as("n_tokens"))
    val w = pow(col("n_docs").cast("double"), lit(alpha))
    val z = broadcast(counts.agg(sum(w).as("z")))
    counts.join(z, lit(true))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(w / col("z"), 6).as("weight"),
        round(lit(budgetDocs.toDouble) * w / col("z")).cast("long").as("expected_docs"),
        round(lit(budgetDocs.toDouble) * w / col("z") / col("n_docs"), 4).as("epochs"))
  }

  /** The composed corpus-cleaning pass a training pipeline actually runs:
    * language allowlist → char-length band → exact-dedup survivors (min
    * doc_id per normalized text). One filter + one hash-group shuffle. */
  def cleanCorpus(docs: DataFrame, langs: Seq[String],
                  minChars: Long, maxChars: Long): DataFrame =
    docs
      .where(col("lang").isin(langs: _*) &&
        length(col("text")).between(minChars, maxChars))
      .groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /**
   * Test-set decontamination: flag training documents sharing any word
   * n-gram with an evaluation corpus (the GPT-3/PaLM-style 13-gram
   * overlap check every pretraining pipeline runs before training).
   * Returns (doc_id, n_hits) for contaminated TRAIN docs, n_hits =
   * number of distinct eval n-grams the doc contains.
   *
   * Shape for 100 TB: eval/benchmark sets are small by nature (10⁴–10⁶
   * n-grams), so the distinct eval-gram table is BROADCAST and the train
   * side streams through one map-side explode + broadcast hash join +
   * hash-group — the corpus never shuffles its text, only (doc_id, gram)
   * hits after the join prune. The join keys the raw gram string here so
   * the DuckDB oracle replays it bit-for-bit; at petabyte scale you key
   * a 128-bit gram hash instead (same plan shape, 16-byte keys).
   */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    n: Int = 13): DataFrame = Staged.run { stage =>
    // both token arrays staged behind persist barriers: CollapseProject
    // would otherwise inline tokenization into the size(t)+2 references
    // the shingle lambda makes (the measured O(tokens²) trap)
    val evalToks = stage(eval.select(tokens(col("text")).as("t")))
    val trainToks = stage(train.select(col("doc_id"), tokens(col("text")).as("t")))
    val evalGrams = broadcast(
      evalToks.select(explode(shinglesFromTokens(col("t"), n)).as("gram")).distinct())
    trainToks
      .select(col("doc_id"), explode(shinglesFromTokens(col("t"), n)).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits")) // grams are pre-distinct per doc
      .localCheckpoint(true)
  }

  /**
   * Exact length quantiles per language — the percentile bands a curation
   * pass derives its length-filter thresholds from. Uses Spark's exact
   * `percentile` (linear interpolation, matching DuckDB `quantile_cont`).
   * Exact percentile buffers each group's values — fine per-language
   * (groups ≪ executors · memory); for percentiles over billions of rows
   * per group use [[lengthQuantilesApprox]] (t-digest sketch, bounded
   * memory, mergeable across partitions).
   */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.1)), 4).as("p10"),
        round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
        round(percentile(col("n_chars"), lit(0.9)), 4).as("p90"))

  /** Sketch twin of [[lengthQuantiles]]: `approx_percentile` runs in
    * bounded memory per group and merges across partitions — the 100 TB
    * path. Accuracy is gated in PipelineSpec against the exact form
    * rather than a SQL oracle (sketch internals are engine-specific). */
  def lengthQuantilesApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        approx_percentile(col("n_chars"), lit(0.1), lit(accuracy)).cast("double").as("p10"),
        approx_percentile(col("n_chars"), lit(0.5), lit(accuracy)).cast("double").as("p50"),
        approx_percentile(col("n_chars"), lit(0.9), lit(accuracy)).cast("double").as("p90"))

  /**
   * Vocabulary stats per language: total token occurrences and EXACT
   * distinct-token count (the Heaps'-law numbers tokenizer training
   * monitors). One explode + two hash aggregations; distinct-count
   * shuffles (lang, token) once, pre-combined map-side.
   */
  def vocabStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        count_distinct(col("tok")).as("distinct_tokens"))

  /** Sketch twin of [[vocabStats]]: distinct-token estimate via the
    * engine-PORTABLE md5 HyperLogLog (functions/HllSketchAgg —
    * `graft_hll`). Constant 2^p bytes per group and a mergeable sketch
    * vs the exact form's (lang, token) shuffle — at 100 TB the exact
    * distinct is the bottleneck, the sketch is not. m = 4096 ⇒ ~1.6%
    * standard error in the HLL regime; below 2.5·m the linear-counting
    * branch is far tighter. Unlike `approx_count_distinct` (HLL++,
    * engine-private register layout ⇒ rows-only forever), this sketch's
    * register state is replayable from md5 hex in ANY engine, so the
    * query carries a FULL oracle: (nonzero_registers, register_sum)
    * pin the exact integer state, est_distinct the shared final
    * expression. */
  def vocabSketch(docs: DataFrame, p: Int = 12): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        call_function("graft_hll", col("tok"), lit(p)).as("h"))
      .select(col("lang"), col("total_tokens"),
        col("h.nonzero").as("nonzero_registers"),
        col("h.rank_sum").as("register_sum"),
        round(col("h.est"), 4).as("est_distinct"))

  /**
   * Unigram language-model score per document — the perplexity-style
   * quality signal (CCNet-style filtering: drop documents whose tokens
   * are improbable under the corpus's own unigram distribution).
   * Returns (doc_id, n_tokens, avg_logprob) where avg_logprob =
   * mean over tokens of ln P(token), P from the WHOLE corpus's token
   * frequencies.
   *
   * Two hash aggregations (corpus token counts; per-doc score sum) and
   * one join of the exploded corpus against the unigram table. The
   * unigram model is Zipf-shaped — a few 10⁵ rows even at 100 TB — so
   * the join is BROADCAST; token explosion never shuffles.
   */
  def unigramLogProb(docs: DataFrame): DataFrame = Staged.run { stage =>
    val exploded = stage(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    val total = exploded.count().toDouble
    val unigrams = exploded.groupBy(col("tok"))
      .agg((count(lit(1)) / total).as("p"))
    exploded
      .join(broadcast(unigrams), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("p"))), 4).as("avg_logprob"))
      .localCheckpoint(true)
  }

  /**
   * Bigram LM scoring with add-k smoothing — the step up from
   * [[unigramLogProb]] every perplexity-filter pipeline eventually
   * takes: per doc, the average log of p(w₂|w₁) = (c₁₂ + k) ∕ (c₁ + k·V)
   * over its adjacent token pairs (c₁₂ = corpus bigram count, c₁ = the
   * context's bigram-start count, V = corpus vocabulary). Returns
   * (doc_id, n_bigrams, avg_logprob) for docs with ≥ 2 tokens.
   *
   * Shape: the bigram instances move twice — once into the (w₁, w₂)
   * count (map-side partials) and once into the scoring join against
   * that count table (AQE broadcasts the count side while it fits);
   * the context table re-aggregates FROM the bigram counts — no second
   * tokenize pass (the tfidf df-from-tf trick); V is one
   * distinct-count. The bigram table is corpus-sized at 100 TB — there
   * you join only the head (top-n bigrams broadcast) and back off to
   * the unigram model for the tail; the smoothing already makes that a
   * graceful degradation, and this registered form is the exact-oracle
   * anchor.
   */
  def bigramLogProb(docs: DataFrame, addK: Double = 0.5): DataFrame = Staged.run { stage =>
    val (scored, vocab) = bigramLmScored(stage, docs)
    scored
      .select(col("doc_id"),
        log((col("c") + addK) / (col("c1") + addK * vocab)).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("avg_logprob"))
      .localCheckpoint(true)
  }

  /** Shared bigram-LM spine of [[bigramLogProb]] and [[perplexityTiers]]:
    * staged token arrays and bigram instances (persist barriers), the
    * c12/c1 count tables (context re-aggregated FROM the bigram counts —
    * no second tokenize pass), and the per-bigram-instance frame joined
    * to both. Returns (scored instances carrying c/c1, vocabulary size),
    * the barriers staged in the caller's scope. */
  private def bigramLmScored(stage: Stage, docs: DataFrame): (DataFrame, Double) = {
    val toksAll = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val vocab = toksAll.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0).toDouble
    val bi = stage(toksAll.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2")))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    (bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1")), vocab)
  }

  /**
   * CCNet-style perplexity tiers (Wenzek et al., "CCNet: Extracting
   * High Quality Monolingual Datasets from Web Crawl Data", LREC'20):
   * score every document by its LM cost under the corpus bigram model
   * ([[bigramLogProb]]'s add-k smoothed p(w₂|w₁)), then split each
   * LANGUAGE into head / middle / tail tertiles by per-bigram average
   * negative log-likelihood — the classic keep-the-head quality filter.
   *
   * Portability doctrine (§28): each bigram's NLL is quantized to
   * integer micros PER ROW (floor(−ln p·10⁶ + ½) — order-free), summed
   * in DECIMAL(38,0); docs compare by the exact rational
   * sum_nll_mu ∕ n_bigrams (one double division of integers, the
   * [[qualityTiers]] contract), ties by doc_id; bigram-less docs (< 2
   * tokens) sort to the tail end via an explicit flag — no NULL
   * ordering dependence. Tier boundaries are integer-exact tertiles:
   * head iff 3·rk ≤ n, middle iff 3·rk ≤ 2·n.
   *
   * Returns (doc_id, lang, n_bigrams, sum_nll_mu, tier).
   *
   * Scale shape: the bigram_logprob spine (two shuffles over bigram
   * instances; count tables broadcast under AQE, head-vocabulary
   * broadcast + unigram backoff at 100 TB) plus one per-lang window
   * over doc-sized rows — the lang-partitioned sort splitStratified
   * already carries.
   */
  def perplexityTiers(docs: DataFrame, addK: Double = 0.5): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    val (scored0, vocab) = bigramLmScored(stage, docs)
    val perDoc = scored0
      .select(col("doc_id"),
        floor(-log((col("c") + addK) / (col("c1") + addK * vocab)) * 1e6 + 0.5)
          .cast("long").as("nll_mu"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_mu").cast("decimal(38,0)")).cast("long").as("sum_nll_mu"))
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("sum_nll_mu"), lit(0L)).cast("long").as("sum_nll_mu"))
    val w = Window.partitionBy(col("lang"))
    val avgNll = when(col("n_bigrams") === 0, lit(0.0))
      .otherwise(col("sum_nll_mu").cast("double") / col("n_bigrams"))
    scored
      .withColumn("rk", row_number().over(w.orderBy(
        (col("n_bigrams") === 0).cast("int"), avgNll, col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("sum_nll_mu"),
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("tier"))
      .localCheckpoint(true)
  }

  /**
   * Collocation mining: top-k adjacent token pairs by pointwise mutual
   * information over the corpus — PMI(w₁,w₂) = ln(c₁₂·N ∕ (cL(w₁)·cR(w₂)))
   * with marginals cL/cR re-aggregated FROM the pair counts (one wide
   * shuffle total, the bigram_logprob spine) and a min-count floor so
   * hapax pairs don't dominate. Ranking compares the RAW RATIO
   * c₁₂·N∕(cL·cR) — a division of exact integers, IEEE-identical in any
   * engine — rather than its logarithm (ln is the one step two engines
   * may round differently, and rank boundaries are where that bites);
   * the displayed pmi is the rounded ln. Returns (w1, w2, n, pmi, rk ≤ k).
   */
  def pmiTopPairs(docs: DataFrame, minCount: Long = 5L,
                  k: Int = 20): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    val toks = stage(docs.select(tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2))
    val bi = toks.select(explode(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val c12 = stage(bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n")))
    val total = c12.agg(sum(col("n"))).head().getLong(0).toDouble
    val cl = c12.groupBy(col("w1")).agg(sum(col("n")).as("cl"))
    val cr = c12.groupBy(col("w2")).agg(sum(col("n")).as("cr"))
    val ratio = (col("n") * total) / (col("cl") * col("cr"))
    // global top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    // heaps + driver merge of k rows) — NOT a single-partition window sort
    // over every qualifying pair; the rank window then touches k rows only
    c12.where(col("n") >= minCount)
      .join(cl, "w1").join(cr, "w2")
      .withColumn("ratio", ratio)
      .orderBy(col("ratio").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("ratio").desc, col("w1"), col("w2"))))
      .select(col("w1"), col("w2"), col("n"),
        round(log(col("ratio")), 4).as("pmi"), col("rk").cast("long").as("rk"))
      .localCheckpoint(true)
  }

  /**
   * Language-ID confusion matrix: labeled `lang` vs [[langId]]
   * prediction, with counts — the evaluation table that tells you
   * whether the classifier is good enough to FILTER on before you
   * let it drop petabytes. One map-side-combined aggregation; output
   * is |langs|²-bounded.
   */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), langId(col("text")).as("pred"))
      .agg(count(lit(1)).as("n"))

  /**
   * Split balance audit: per (split, lang) doc and token counts with
   * the within-split share — the check that a hash or stratified split
   * didn't skew a language between train and test. Composes
   * [[splitAssign]]; one aggregation, dimension-sized output. Share is
   * an exact integer ratio rounded for display.
   */
  def splitBalance(docs: DataFrame): DataFrame = {
    val counts = splitAssign(docs, "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(nTokens(col("text"))).as("n_tokens"))
    import org.apache.spark.sql.expressions.Window
    counts.withColumn("share",
        round(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy(col("split"))), 6))
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"), col("share"))
  }

  /** Percentile rank of document length within its language — the
    * distribution-aware filter bound ("drop the shortest 10% per lang")
    * a curation pass derives thresholds from. percent_rank is an exact
    * rational of tie-aware ranks, so it replays engine-identically.
    * ONE per-lang window; at 100 TB you'd pre-aggregate to (lang,
    * n_chars) counts first (the value space is tiny) and rank that —
    * noted here, exact form registered. */
  def lengthPercentiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), col("lang"), length(col("text")).as("n_chars"))
      .withColumn("pr", round(percent_rank().over(
        Window.partitionBy(col("lang")).orderBy(col("n_chars"))), 6))
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"), col("pr"))
  }

  /**
   * Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
   * keep the top-k documents by priority ln(u)∕w, where u ∈ (0,1) is the
   * doc's deterministic md5-derived uniform and w its token count — each
   * doc's inclusion probability is proportional to its weight, the
   * one-pass weighted-reservoir rule. Deterministic (hash-derived u, no
   * RNG), so reruns and the oracle agree; the top-k is a distributed
   * TakeOrdered (per-partition heaps), never a global sort.
   * Returns (doc_id, n_tokens, priority, rk).
   */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // top 32 bits of md5 as an exact integer, shifted into (0,1): both
    // engines derive the same integer, so u is the same double
    val uInt = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val staged = docs.select(col("doc_id"),
      nTokens(col("text")).cast("long").as("n_tokens"),
      ((uInt + 1L).cast("double") / 4294967297d).as("u"))
    val scored = staged
      .where(col("n_tokens") >= 1)
      .withColumn("priority", log(col("u")) / col("n_tokens"))
    scored.orderBy(col("priority").desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("priority").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("n_tokens"), round(col("priority"), 6).as("priority"),
        col("rk"))
  }

  /**
   * Stratified train/val/test split with EXACT per-stratum proportions —
   * the deterministic-hash split ([[splitAssign]]) is uniform only in
   * expectation, which over-/under-fills small (lang, source) strata;
   * evaluation protocols that compare per-stratum metrics need the
   * exact-count version: rank by md5(doc_id) within the stratum, cut at
   * integer-exact thresholds (rk·100 ≤ n·trainPct — no float ceil
   * ambiguity between engines). Returns (doc_id, lang, source, rk,
   * split).
   *
   * Scale: one window per stratum, bounded by stratum size; a popular
   * stratum at 100 TB takes the [[domainMix]] hash-prefix prune (rank
   * only candidates below the estimated cut threshold) — same order,
   * same ranks.
   */
  def splitStratified(docs: DataFrame, trainPct: Int = 90,
                      valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
    val wo = w.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("split",
        when(col("rk") * 100 <= col("n") * trainPct, "train")
          .when(col("rk") * 100 <= col("n") * (trainPct + valPct), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rk").cast("long").as("rk"), col("split"))
  }

  /**
   * Token-budget sampling: materialize the per-source sample a
   * [[mixtureWeights]] row prescribes — keep each source's docs in
   * stable md5 order while the RUNNING token total (inclusive) stays
   * within the source's budget. Deterministic, append-stable (new docs
   * sort after the kept prefix only if their hash does), and exactly
   * replayable: the cumulative sum is integer math over a total order.
   * Returns kept (doc_id, source, n_tokens, cum_tokens).
   *
   * Scale: one window per source over (hash, id) order — with the
   * [[domainMix]] prefix prune bounding the ranked candidates, since
   * budget∕avg_tokens estimates the kept count the same way quota did.
   */
  def budgetSample(docs: DataFrame, tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"), nTokens(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /**
   * Near-dup pairs verified by EDIT similarity — the character-level
   * twin of the Jaccard verify: candidates from the banded MinHash-LSH
   * front end, kept when 1 − lev∕max_len ≥ `threshold`. Levenshtein
   * catches in-place edits (typos, entity substitutions) that token-set
   * Jaccard smears, and both engines compute it as an EXACT INTEGER —
   * the filter is the cross-multiplied predicate
   * 100·lev ≤ (100 − pct)·max_len (threshold as integer percent; for
   * 0.8: 5·lev ≤ max_len), and the emitted columns are the raw
   * integers. No float enters the contract at all (§23 doctrine).
   *
   * CONTRACT (r10, closing the ADVICE divergence): the result is
   * `banded-candidates ∩ edit-predicate`, NOT "all pairs satisfying the
   * edit predicate" — the candidate metric (shingle Jaccard) and the
   * verify metric (edit) are different, so the banded recall bound
   * 1−(1−Jʳ)ᵇ applies to SHINGLE similarity only; a pair of scattered
   * single-char edits can pass the edit bar yet break every 3-gram and
   * never collide. To make that a checkable contract rather than a
   * latent divergence, the candidate stage uses the PORTABLE md5
   * signature family and the oracle replays the same bands bit-for-bit
   * — both engines share the exact candidate relation by construction.
   *
   * Scale: O(len²) edit DP runs ONLY on LSH candidates — the verify
   * stage's cost profile, not the corpus's.
   */
  def dedupEditPairs(docs: DataFrame, threshold: Double = 0.8,
                     numHashes: Int = 128, bands: Int = 32): DataFrame = Staged.run { stage =>
    val pct = math.round(threshold * 100).toInt
    require(pct > 0 && pct < 100 && pct / 100.0 == threshold,
      "threshold must be an integer percent in (0, 1) for the exact predicate")
    val (_, banded) = lshStages(stage, docs, numHashes, bands, portable = true)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val norm = docs.select(col("doc_id"), normText(col("text")).as("nt"))
    cand
      .join(norm.select(col("doc_id").as("a"), col("nt").as("na")), "a")
      .join(norm.select(col("doc_id").as("b"), col("nt").as("nb")), "b")
      .select(col("a"), col("b"),
        levenshtein(col("na"), col("nb")).cast("long").as("lev"),
        greatest(length(col("na")), length(col("nb"))).cast("long").as("max_len"))
      .where(col("lev") * 100 <= col("max_len") * (100 - pct)) // 1 − lev/max ≥ pct/100, exactly
      .localCheckpoint(true)
  }

  /**
   * Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
   * algorithm): hash every POSITIONAL token 3-gram, slide a window of
   * `w` consecutive hashes, keep each window's minimum — guaranteeing
   * any shared run of ≥ w+2 tokens between two documents shares a
   * selected fingerprint, at ~2∕(w+1) the density of the full gram set.
   * Emits distinct (doc_id, fp). Bottom-k sketches bound the SKETCH
   * size per doc; winnowing bounds the MISS length — the
   * plagiarism/overlap-detection trade. md5 hashes so the DuckDB twin
   * replays bit-for-bit. Map-only: staged token array → positional
   * grams → window minima, no shuffle at all.
   */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = Staged.run { stage =>
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= 3))
    // positional (NOT distinct) 3-gram hashes — winnowing needs every
    // occurrence; staged before the window pass (multi-referenced)
    val hs = stage(toks.select(col("doc_id"),
        transform(sequence(lit(1), size(col("t")) - 2), i =>
          md5(concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2)))).as("hs")))
    val nWin = greatest(size(col("hs")) - (w - 1), lit(1))
    hs.select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), nWin), i =>
          array_min(slice(col("hs"), i, lit(w)))))).as("fp"))
      .distinct()
      .localCheckpoint(true)
  }

  /**
   * Exact duplicated-substring spans (Lee et al., "Deduplicating
   * Training Data Makes Language Models Better", ACL'22): per document,
   * the MAXIMAL token runs in which every n-gram occurs more than once
   * in the corpus — the substring-level dedup signal that catches
   * boilerplate repeated INSIDE otherwise-distinct documents, which
   * document-level (exact/minhash) and fixed-chunk dedup both miss.
   * Exact for every duplicated run of ≥ n tokens (the n-gram relational
   * form of the paper's suffix-array pass; runs shorter than n are out
   * of contract by construction). Returns (doc_id, start_pos, end_pos,
   * span_tokens, n_grams), positions 1-based token indexes.
   *
   * Scale shape: positional n-gram hashes are a map-only explode off
   * the staged token arrays (the winnowing discipline); the repeated-
   * gram set is one gram-keyed count with map-side partials, kept small
   * by the `> 1` filter; flagging is a gram-keyed join (AQE broadcasts
   * when the dup set is small); the gaps-and-islands window partitions
   * per document over FLAGGED positions only — bounded by document
   * length, never corpus-wide. Gram identity is md5 of the joined
   * tokens: both engines share the hash, so the oracle is exact
   * irrespective of the (negligible) collision probability.
   */
  def dupSpans(docs: DataFrame, n: Int = 13): DataFrame = Staged.run { stage =>
    require(n >= 2, "n must be at least 2")
    import org.apache.spark.sql.expressions.Window
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= n))
    val grams = stage(toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - (n - 1)), i =>
          md5(concat_ws(" ", (0 until n).map(o => element_at(col("t"), i + o)): _*))))
          .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g")))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select(col("g"))
    val flagged = grams.join(dup, "g").select(col("doc_id"), col("pos"))
    flagged
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("lastg"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("start_pos"),
        (col("lastg") + (n - 1)).as("end_pos"),
        (col("lastg") + (n - 1) - col("start_pos") + 1).as("span_tokens"),
        col("n_grams"))
      .localCheckpoint(true)
  }

  /**
   * The [[dupSpans]] INTERVENTION: excise every duplicated span and
   * rebuild the cleaned text — what the pipeline actually ships after
   * the Lee et al. signal fires. Documents with no flagged spans (or
   * too few tokens to carry an n-gram) pass through with their token
   * stream intact; a fully-boilerplate document comes out empty rather
   * than dropped, so the caller decides the empty-doc policy.
   *
   * Shape: span ranges explode to covered positions (span-bounded, not
   * corpus-bounded), an anti-join keeps uncovered tokens, and per-doc
   * reassembly sorts the surviving (pos, token) pairs INSIDE the
   * aggregate (sort_array over collect_list — collect_list order is
   * partition-dependent, the sort restores determinism). Returns
   * (doc_id, clean_text, n_kept, n_removed).
   */
  def removeDupSpans(docs: DataFrame, n: Int = 13): DataFrame = {
    val spans = dupSpans(docs, n)
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("start_pos"), col("end_pos"))).as("pos"))
    val pos = docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_outer")
      .join(pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /**
   * Containment near-dup pairs — the asymmetric signal the Jaccard
   * family is blind to: a short document quoted wholesale inside a long
   * one has Jaccard ≈ |A|∕|B| (arbitrarily small) while containment
   * C(A→B) = |S(A)∩S(B)| ∕ |S(A)| ≈ 1 (Broder 1997's second resemblance
   * measure). Returns one row per ORDERED pair with C ≥ `threshold`:
   * (contained, container, n_common, n_grams, containment), where
   * `n_grams` counts the contained side's INDEXED shingles.
   *
   * The numerator counts only INDEXED shingles — word `n`-grams
   * appearing in 2..maxDf documents: df=1 grams cannot pair, and
   * df>maxDf grams are boilerplate through which every doc would pair
   * with every doc (and whose overlap should not flag a dup anyway).
   * The denominator stays the FULL |S(A)| — a doc whose only shared
   * grams are its quote keeps a denominator that reflects its real
   * size, so the measure stays asymmetric (numerator-side truncation
   * can only UNDER-estimate, never flag a false pair). The DuckDB twin
   * replays the same split exactly.
   *
   * Scale shape: distinct (doc, gram) explode (map-side), one gram
   * document-frequency aggregation, then a gram-keyed self-equi-join
   * whose per-gram fan-out is df-bounded at maxDf (≤ maxDf² ordered
   * pairs per gram — linear in corpus tokens, never |docs|²), one
   * (a,b)-keyed counting aggregation (map-side combined), one
   * doc-sized denominator join. Integer counts end to end; the single
   * shared double is the final division, round(4).
   */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 50): DataFrame = Staged.run { stage =>
    // staged: tokens referenced size(t)+n-1 times by the shingle lambda
    // (see shinglesFromTokens's O(tokens²) re-evaluation note)
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val dg = stage(toks
      .select(col("doc_id"), explode(shinglesFromTokens(col("t"), n)).as("g")))
    val voc = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df").between(2, maxDf)).select(col("g"))
    val idx = stage(dg.join(voc, "g"))
    // denominator over ALL distinct grams (see scaladoc: numerator-only
    // truncation keeps the measure asymmetric and conservative)
    val sizes = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val common = idx.select(col("g"), col("doc_id").as("a"))
      .join(idx.select(col("g"), col("doc_id").as("b")), "g")
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("a"), col("n_grams")), "a")
      .where(col("n_common").cast("double") / col("n_grams") >= threshold)
      .select(col("a").as("contained"), col("b").as("container"),
        col("n_common"), col("n_grams"),
        round(col("n_common").cast("double") / col("n_grams"), 4)
          .as("containment"))
      .localCheckpoint(true)
  }

  /**
   * Cross-source duplication matrix — which sources copy from which:
   * the near-dup pair relation ([[dedupMinHashLsh]]) joined to each
   * side's source and folded to (source_x ≤ source_y, n_pairs). The
   * provenance report a curation team reads before deciding which
   * source to drop; at 100 TB the pair relation is LSH-bounded (that
   * is its whole point) and this adds two dimension-sized joins plus
   * one #sources²-bounded aggregation on top.
   */
  def sourceOverlap(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val pairs = dedupMinHashLsh(docs, threshold)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), "b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * SKETCH-algebra cross-source content overlap — the 100 TB form of
   * the provenance report: estimated distinct-shingle Jaccard between
   * every source pair via the portable md5 HyperLogLog register table
   * (functions/HllSketchAgg contract, computed here as plain columns so
   * the REGISTERS stay relational). [[sourceOverlap]] counts near-dup
   * PAIRS, whose exact twin is quadratic (ORACLE_SKIP at scaled data);
   * this one never forms pairs of documents at all:
   *
   *  - ONE corpus scan explodes shingles to (source, register_idx,
   *    rank) and folds max(rank) map-side — the shuffle carries at most
   *    #sources · 4096 rows per map partition, never a token;
   *  - everything after is sketch algebra on the #sources·4096-row
   *    register table: per-source estimates, pairwise UNION registers
   *    (elementwise max — HLL merge is exact, sketch(A∪B) ==
   *    merge(sketch(A), sketch(B))), and inclusion–exclusion
   *    |A∩B| ≈ est(A) + est(B) − est(A∪B).
   *
   * Exact-integer oracle pins per pair: (nonzero, rank_sum) of both
   * sides and of the union — any single-register divergence shifts
   * them — plus the shared-double estimates rounded at 4 (the
   * vocab_sketch doctrine: integers until one shared final double
   * expression, repeated verbatim by the twin). `jaccard_est` can be
   * slightly negative on disjoint sources (inclusion–exclusion noise);
   * that is honest sketch output, not clamped.
   */
  def sourceOverlapSketch(docs: DataFrame): DataFrame = Staged.run { stage =>
    val m = 4096 // p = 12; hex arithmetic below is specific to p = 12
    // maxRank = 64 - p + 1 = 53: idx = top 3 hex chars, tail = next 13
    val toks = stage(docs.select(col("source"), tokens(col("text")).as("t")))
    // tiny; one corpus scan feeds three readers
    val regs = stage.checkpoint(toks
      .select(col("source"), explode(shinglesFromTokens(col("t"))).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .select(col("source"),
        conv(substring(col("h"), 1, 3), 16, 10).cast("int").as("idx"),
        conv(substring(col("h"), 4, 13), 16, 10).cast("long").as("tail"))
      .select(col("source"), col("idx"),
        when(col("tail") === 0L, lit(53))
          .otherwise(lit(53) - length(bin(col("tail")))).cast("int").as("rk"))
      .groupBy(col("source"), col("idx")).agg(max(col("rk")).as("mj")))

    // Z·2^53 as an exact integer (the HllSketchAgg eval contract):
    // Σ 2^(53−mj) over nonzero registers + 2^53 per empty register.
    // Max value 4096·2^53 ≈ 2^65 overflows BIGINT — DECIMAL(38,0), the
    // twin uses HUGEINT.
    def summarize(r: DataFrame, keys: Seq[String]): DataFrame =
      r.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("nz"),
        sum(col("mj")).cast("long").as("rs"),
        (sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 53 - mj) AS DECIMAL(38,0))")) +
          (lit(m).cast("long") - count(lit(1))).cast("decimal(38,0)") *
            lit(1L << 53).cast("decimal(38,0)")).as("s"))
    // the ONE shared double sequence (left-assoc, twin repeats verbatim)
    def estOf(nz: Column, s: Column): Column = {
      val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) *
        lit(4096.0) * lit(4096.0) * lit(9007199254740992.0) / s.cast("double")
      when(lit(m).cast("long") - nz > 0 && raw <= lit(2.5) * lit(4096.0),
        lit(4096.0) * log(lit(4096.0) / (lit(m).cast("long") - nz).cast("double")))
        .otherwise(raw)
    }

    val perSrc = summarize(regs, Seq("source"))
      .select(col("source"), col("nz"), estOf(col("nz"), col("s")).as("e"))
    val srcs = regs.select(col("source")).distinct()
    // #sources² dimension self-join (BNLJ by design, PlanInvariantsSpec
    // allowlisted) — bounded by the source vocabulary, never the corpus
    val pairs = srcs.as("pa").join(srcs.as("pb"),
        col("pa.source") < col("pb.source"))
      .select(col("pa.source").as("source_a"), col("pb.source").as("source_b"))
    val unionRegs = pairs
      .join(regs.select(col("source").as("source_a"), col("idx"), col("mj")),
        Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("idx"), col("mj"))
      .unionByName(pairs
        .join(regs.select(col("source").as("source_b"), col("idx"), col("mj")),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("idx"), col("mj")))
      .groupBy(col("source_a"), col("source_b"), col("idx"))
      .agg(max(col("mj")).as("mj"))
    val uAgg = summarize(unionRegs, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"),
        col("nz").as("nz_u"), col("rs").as("rs_u"),
        estOf(col("nz"), col("s")).as("e_u"))
    uAgg
      .join(perSrc.select(col("source").as("source_a"),
        col("nz").as("nz_a"), col("e").as("e_a")), "source_a")
      .join(perSrc.select(col("source").as("source_b"),
        col("nz").as("nz_b"), col("e").as("e_b")), "source_b")
      .select(col("source_a"), col("source_b"),
        col("nz_a").cast("long").as("nonzero_a"),
        col("nz_b").cast("long").as("nonzero_b"),
        col("nz_u").cast("long").as("nonzero_union"),
        col("rs_u").as("register_sum_union"),
        round(col("e_a"), 4).as("est_a"),
        round(col("e_b"), 4).as("est_b"),
        round(col("e_u"), 4).as("est_union"),
        round(col("e_a") + col("e_b") - col("e_u"), 4).as("est_common"),
        round((col("e_a") + col("e_b") - col("e_u")) / col("e_u"), 4)
          .as("jaccard_est"))
      .localCheckpoint(true)
  }

  /**
   * The curation FUNNEL report: how many documents survive each stage
   * of the cleaning pipeline (raw → language allowlist → length band →
   * repetition quality → exact dedup), as (stage, n_docs) rows. This is
   * the one-pass observability twin of [[cleanCorpus]]: every stage is
   * a conditional aggregate over ONE scan (cumulative-filter flags
   * staged as attributes, so the tokenize runs once per row), the dedup
   * stage a conditional distinct — nothing corpus-sized is shuffled
   * except the distinct's key set. Stage names carry an order prefix so
   * the report sorts stably everywhere.
   */
  def curationFunnel(docs: DataFrame, langs: Seq[String] = Seq("en", "de"),
                     minChars: Long = 100L, maxChars: Long = 2000L,
                     minDistinctRatio: Double = 0.3): DataFrame = {
    val staged = docs.select(col("lang"), col("text"),
      tokens(col("text")).as("t"), normText(col("text")).as("norm"))
    val flags = staged.select(
      col("lang").isin(langs: _*).as("f1"),
      length(col("text")).between(minChars, maxChars).as("f2"),
      (size(array_distinct(col("t"))) / greatest(size(col("t")), lit(1))
        >= minDistinctRatio).as("f3"),
      col("norm"))
    flags.agg(
        count(lit(1)).as("raw"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("lang_n"),
        sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("len_n"),
        sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("qual_n"),
        countDistinct(when(col("f1") && col("f2") && col("f3"), col("norm"))).as("dedup_n"))
      .select(expr(
        """stack(5,
          |  '0_raw', raw,
          |  '1_lang', lang_n,
          |  '2_length', len_n,
          |  '3_quality', qual_n,
          |  '4_dedup', dedup_n) AS (stage, n_docs)""".stripMargin))
  }

  /**
   * The composed END-TO-END curation chain (VERDICT r9 #7): hold out an
   * eval slice → [[cleanCorpus]] (lang allowlist + length band + exact
   * dedup) → [[decontaminate]] (drop training docs sharing any word
   * `gramN`-gram with the eval slice) → [[domainMix]] (per-source quota
   * by stable md5 priority) → [[splitStratified]] — one DataFrame chain,
   * stage outputs feeding the next stage as relations (the only
   * materializations are executor-side stage barriers, never a driver
   * round-trip). Returns the doc-level curated table
   * (doc_id, lang, source, rk, split, n_tokens), the input both to
   * training-set export and to [[packSequences]] (see the registered
   * `curation_pipeline_pack` invariants).
   *
   * Every stage keeps its own 100 TB shape through the composition:
   * broadcast eval grams, hash-agg dedup, dimension-broadcast quota
   * prune, per-stratum windows over quota-bounded survivors — composing
   * them adds doc_id equi-joins only.
   */
  def curationPipeline(allDocs: DataFrame, langs: Seq[String] = Seq("en", "de"),
                       minChars: Long = 100L, maxChars: Long = 2000L,
                       evalMod: Int = 25, gramN: Int = 13,
                       quota: Int = 50): DataFrame = Staged.run { stage =>
    val train = allDocs.where(col("doc_id") % evalMod =!= 0)
    val evalSet = allDocs.where(col("doc_id") % evalMod === 0)
    val cleaned = allDocs.join(
      cleanCorpus(train, langs, minChars, maxChars), "doc_id")
    // stage barriers: domainMix references its input several times
    // (priority, per-source counts, exactness check, fallback) and the
    // split output is consumed twice — without the executor-side
    // checkpoints each reference RE-EXPANDS the whole upstream chain
    // (plan-probed: ~12 corpus scans at r10; 3 with the barriers)
    val decon = stage.checkpoint(cleaned.join(
      stage.own(decontaminate(cleaned, evalSet, gramN)), Seq("doc_id"), "left_anti"))
    val kept = stage.checkpoint(decon.join(
      domainMix(decon, quota).select(col("doc_id")), "doc_id"))
    // kept is quota-bounded (≤ sources × quota rows) BY CONSTRUCTION —
    // broadcast the token-count side instead of letting the checkpoint's
    // unknown stats default to a sort-merge join
    splitStratified(kept, 90, 5)
      .join(broadcast(kept.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("rk"),
        col("split"), col("n_tokens"))
      .localCheckpoint(true)
  }

  /**
   * The SEMANTIC-guard pipeline: clean → embedding-space decontamination
   * ([[VectorOps.decontaminateSemantic]] against the eval docs'
   * embeddings, id-aligned vec_id == doc_id) → domain quotas → hash
   * split — the composition that catches paraphrased eval leakage the
   * 13-gram chain in [[curationPipeline]] cannot. Same one-lazy-plan
   * discipline: stage relations feed the next stage, the only
   * materializations are the executor-side barriers before the
   * multi-referenced domainMix/split stages. The semantic stage adds
   * ZERO shuffle of its own (projection against a broadcast-literal eval
   * set), so the composition's shuffle census is exactly the n-gram
   * pipeline's minus the eval-gram join.
   */
  def curationPipelineSem(allDocs: DataFrame, embeddings: DataFrame,
                          langs: Seq[String] = Seq("en", "de"),
                          minChars: Long = 100L, maxChars: Long = 2000L,
                          evalMod: Int = 25, simThreshold: Double = 0.35,
                          quota: Int = 50): DataFrame = Staged.run { stage =>
    val train = allDocs.where(col("doc_id") % evalMod =!= 0)
    val cleaned = allDocs.join(
      cleanCorpus(train, langs, minChars, maxChars), "doc_id")
    val evalEmb = embeddings.where(col("vec_id") % evalMod === 0)
    val uncontaminated = VectorOps.decontaminateSemantic(
        embeddings.where(col("vec_id") % evalMod =!= 0), evalEmb, simThreshold)
      .where(!col("contaminated"))
      .select(col("vec_id").as("doc_id"))
    val decon = stage.checkpoint(cleaned.join(uncontaminated, "doc_id"))
    val kept = stage.checkpoint(decon.join(
      domainMix(decon, quota).select(col("doc_id")), "doc_id"))
    splitAssign(kept, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"), col("split"))
      .localCheckpoint(true)
  }

  /**
   * BM25 relevance of every document against a fixed query-term set —
   * the retrieval-quality scorer a curation pipeline runs to mine
   * topic-focused subsets. Robertson idf
   * `ln((N − df + 0.5)/(df + 0.5) + 1)` with the k1/b saturation form.
   * Returns (doc_id, bm25) for documents containing ≥1 query term.
   *
   * Scale shape: the corpus pays exactly ONE wide shuffle — the
   * (doc, token) term-frequency aggregation (map-side partials). dl is
   * re-aggregated FROM tf (no second tokenize pass), (N, avgdl) is one
   * scalar action on the persisted tf, the query-term filter cuts tf to
   * |query| terms BEFORE any join, per-term document frequencies
   * broadcast, and the dl join keys on doc_id. Nothing downstream of
   * the filter scales with vocabulary size.
   */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = Staged.run { stage =>
    // run the query through the SAME tokenizer as the documents —
    // "Spark" or "window-function" must match the lowercased
    // alphanumeric tokens the corpus side produces, not silently miss
    val terms = queryTerms.flatMap(_.toLowerCase.split("[^a-z0-9]+"))
      .filter(_.nonEmpty).distinct
    require(terms.nonEmpty, "queryTerms must contain at least one token")
    val tf = stage(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    // an empty corpus (or all-empty documents) has no avgdl: degrade to
    // the empty scored set like every other TextOps operator
    if (stats.getLong(0) == 0L || stats.isNullAt(1))
      docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0d).as("bm25")).limit(0)
    else {
      val (nDocs, avgdl) = (stats.getLong(0), stats.getDouble(1))
      val qtf = tf.where(col("tok").isin(terms: _*))
      val dfreq = qtf.groupBy(col("tok"))
        .agg(count_distinct(col("doc_id")).as("df"))
      val idf = log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
      qtf
        .join(broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .withColumn("contrib",
          idf * (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("contrib")), 4).as("bm25"))
        .localCheckpoint(true)
    }
  }

  /**
   * Hybrid lexical+vector retrieval with reciprocal-rank fusion — the
   * standard two-channel search primitive (RRF, Cormack et al. SIGIR'09;
   * what production hybrid search runs over a BM25 index + an ANN
   * index): score(d) = Σ_channels 1∕(60 + rank_channel(d)) over the
   * channels where d appears in the top-`nCand`.
   *
   * Engine-exact contract (the §28 doctrine applied twice):
   *  - the LEXICAL rank quantizes each BM25 per-(doc, term) contribution
   *    to integer micros BEFORE the per-doc sum — a raw float sum's
   *    addend order is engine-dependent, and ranks must never hang on
   *    it (the perplexity_tiers lesson); ties break on doc_id;
   *  - the VECTOR rank orders RAW hashEmbed cosines (bit-identical
   *    across engines: one shared left-to-right fold — the ann_topk /
   *    text_ann_hashed proof) with nb ties on doc_id;
   *  - the fused score is emitted as ⌊rrf·10⁹⌋ (floor of identical
   *    doubles — no round-half disagreement surface) and the final
   *    top-`k` orders on (rrf_m desc, doc_id).
   *
   * Scale shape: lexical candidates via distributed TakeOrdered
   * (orderBy+limit — never a global window over the corpus; the
   * ranking window runs over the ≤ nCand SELECTED rows, the allowed
   * rank-above-Limit pattern); vector candidates via the ann_topk
   * broadcast (ONE query vector against the corpus, heap-truncated
   * graft_topk partials); the fusion is a ≤ nCand × ≤ nCand full-outer
   * equi-join. Returns (doc_id, lex_rank, vec_rank, rrf_m) — rank 0 =
   * absent from that channel's candidates.
   */
  def hybridSearch(docs: DataFrame, queryTerms: Seq[String],
                   nCand: Int = 100, k: Int = 20, rrfK: Int = 60): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val terms = queryTerms.flatMap(_.toLowerCase.split("[^a-z0-9]+"))
      .filter(_.nonEmpty).distinct
    require(terms.nonEmpty, "queryTerms must contain at least one token")
    // ---- lexical channel: BM25 (k1=1.2, b=0.75) in integer micros ----
    val (k1, b) = (1.2, 0.75)
    val tf = stage(docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    require(stats.getLong(0) > 0L && !stats.isNullAt(1),
      "hybridSearch needs a non-empty tokenized corpus")
    val (nDocs, avgdl) = (stats.getLong(0), stats.getDouble(1))
    val qtf = tf.where(col("tok").isin(terms: _*))
    val dfreq = qtf.groupBy(col("tok")).agg(count_distinct(col("doc_id")).as("df"))
    val idf = log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val lex = qtf.join(broadcast(dfreq), "tok").join(dl, "doc_id")
      .withColumn("m", floor(
        idf * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)) * 1e6)
        .cast("long"))
      .groupBy(col("doc_id")).agg(sum(col("m")).as("lex_micros"))
    val lexTop = stage.checkpoint(lex
      .orderBy(col("lex_micros").desc, col("doc_id")).limit(nCand)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("lex_micros").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank")))
    // ---- vector channel: hashEmbed corpus, the query embedded by the
    // SAME cell machinery (qid −1 can never collide with a doc id).
    // Reuses the persisted tf counts — the channel used to re-tokenize
    // and re-shuffle the whole corpus for the identical (doc, tok, cnt)
    // backbone (r14 optimization); tf therefore stays persisted until
    // the fused result materializes below. ----
    val hv = hashEmbedFromCounts(
      tf.select(col("doc_id"), col("tok"), col("tf").as("cnt")))
      .select(col("doc_id").as("vec_id"),
        expr("transform(vec, x -> CAST(x AS DOUBLE))").as("embedding"))
      .where(expr("exists(embedding, x -> x != 0D)"))
    import spark.implicits._
    val qv = hashEmbed(Seq((-1L, terms.mkString(" "))).toDF("doc_id", "text"))
      .select(col("doc_id").as("vec_id"),
        expr("transform(vec, x -> CAST(x AS DOUBLE))").as("embedding"))
    val scored = hv.select(col("vec_id").as("nb"), VectorOps.dvec(col("embedding")).as("cv"))
      .join(broadcast(qv.select(col("vec_id").as("q"), VectorOps.dvec(col("embedding")).as("qv"))),
        col("q") =!= col("nb"))
      .select(col("nb"), VectorOps.cosineBest(spark, col("qv"), col("cv")).as("sim"))
    val vecTop = VectorOps.groupedTopK(scored.withColumn("g", lit(1)), "g", "nb", "sim", nCand)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("sim").desc, col("nb"))))
      .select(col("nb").as("doc_id"), col("vec_rank"))
    // ---- fusion ----
    lexTop.join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf_m", floor((
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0))) * 1e9)
        .cast("long"))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).cast("long").as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).cast("long").as("vec_rank"),
        col("rrf_m"))
      .orderBy(col("rrf_m").desc, col("doc_id")).limit(k)
      .localCheckpoint(true)
  }

  /** One packed bin: its member docs and token load. */
  final case class PackedBin(bin_id: String, doc_ids: Array[Long],
                             n_docs: Int, total_tokens: Long)

  /**
   * Greedy sequence packing: group documents into bins of at most
   * `budgetTokens` tokens — the batching step that turns a filtered
   * corpus into fixed-budget training sequences with minimal padding.
   * Best-fit-decreasing WITHIN each shard (genuine per-group imperative
   * logic — the documented legitimate non-relational case): no global
   * coordination, one deterministic doc_id-keyed shuffle, bins never
   * span shards so the result streams out shard-parallel at any scale.
   * Documents larger than the budget get a singleton bin (flagged by
   * total_tokens > budgetTokens) rather than being dropped silently.
   *
   * The packing is a PURE FUNCTION of the doc set (r10, was rows-only):
   * shard = doc_id mod `shards` BY VALUE (groupByKey, not hash
   * placement), items sorted (n_tokens desc, doc_id), and the best-fit
   * choice canonicalized to (tightest remaining, lowest bin index) —
   * every choice is replayable, so the DuckDB twin re-runs the exact
   * BFD recurrence and the oracle pins bin membership, not just
   * invariants. The linear best-fit scan is O(items · bins) per shard;
   * shards bound both (grow `shards` with the corpus — bins per shard
   * stay ~(corpus tokens)/(shards · budget)).
   *
   * BFD invariant (asserted in PipelineSpec): within a shard at most
   * ONE bin is ≤ half full — a new bin opens only when an item fits in
   * no open bin, so every earlier bin is > budget − item. bin_id is
   * "<shard>-<idx>": stable for a fixed shard width.
   */
  def packSequences(docs: DataFrame, budgetTokens: Int,
                    shards: Int = 8): DataFrame = {
    require(budgetTokens > 0 && shards > 0, "budget and shards must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(pmod(col("doc_id"), lit(shards.toLong)).cast("int").as("shard"),
        col("doc_id").cast("long"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, rows) =>
        import scala.collection.mutable.ArrayBuffer
        val items = rows.map { case (_, id, n) => (id, n) }.toArray
          .sortBy { case (id, n) => (-n, id) }
        val binDocs = ArrayBuffer.empty[ArrayBuffer[Long]]
        val binLoad = ArrayBuffer.empty[Long]
        items.foreach { case (id, n) =>
          val need = math.max(n, 1L)
          // canonical best fit: smallest remaining ≥ need, ties → lowest
          // bin index (strict < keeps the first-found index)
          var best = -1
          var bestRem = Long.MaxValue
          var i = 0
          while (i < binLoad.length) {
            val rem = budgetTokens - binLoad(i)
            if (rem >= need && rem < bestRem) { best = i; bestRem = rem }
            i += 1
          }
          if (best >= 0) { binDocs(best) += id; binLoad(best) += n }
          else { binDocs += ArrayBuffer(id); binLoad += n }
        }
        binDocs.indices.iterator.map { i =>
          PackedBin(s"$shard-$i", binDocs(i).toArray.sorted,
            binDocs(i).length, binLoad(i))
        }
      }
      .toDF()
  }

  /**
   * Exact per-language heavy hitters: the `k` most frequent tokens per
   * lang — the vocabulary-mining pass tokenizer training starts from.
   * One (lang, token) count shuffle, then a per-lang rank (few langs ×
   * bounded k). Returns (lang, tok, freq, rk), ties broken tok asc.
   *
   * At 100 TB the count shuffle moves one row per distinct (lang,
   * token) — the full vocabulary. [[heavyHittersSketch]] is the
   * bounded-memory twin: Misra–Gries partials cap map-side state AND
   * shuffled rows at `capacity` per partition, at the cost of
   * (spec-gated) estimate error.
   */
  def heavyHitters(docs: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("freq").desc, col("tok"))))
      .where(col("rk") <= k)
      .select(col("lang"), col("tok"), col("freq"),
        col("rk").cast("long").as("rk"))
  }

  /** Sketch twin of [[heavyHitters]] via the native `graft_topfreq`
    * Misra–Gries aggregate (functions/FreqSketchAgg.scala): per-lang
    * state is ≤ `capacity` counters on every partition, so neither
    * memory nor shuffle width scales with vocabulary. Estimates are
    * under-counts with error ≤ n/(capacity+1) (exact when a lang's
    * distinct tokens fit in `capacity`); accuracy is gated vs the exact
    * form in PipelineSpec, not SQL-oracled (summary contents depend on
    * partial-merge order). Requires the graft session extension. */
  def heavyHittersSketch(docs: DataFrame, k: Int = 10,
                         capacity: Int = 1024): DataFrame = {
    require(k > 0 && capacity >= k, "need capacity >= k > 0")
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(call_function("graft_topfreq", col("tok"), lit(capacity)).as("top"))
      .select(col("lang"), posexplode(slice(col("top"), 1, k)))
      .select(col("lang"), col("col.item").as("tok"),
        col("col.est").as("freq_est"), (col("pos") + 1).cast("long").as("rk"))
  }

  /**
   * Oracled INVARIANTS projection of [[heavyHittersSketch]]'s
   * Misra–Gries summary — the bridge between "the summary is
   * merge-order-dependent, rows-only forever" and "the driver still
   * hash-checks something provable about it". The summary's CONTENTS
   * vary with partial-merge order, but two theorems hold for every
   * merge shape (Misra–Gries 1982; Agarwal et al., "Mergeable
   * Summaries", PODS'12 — the truncation FreqSketchAgg implements):
   *
   *  1. guaranteed-survivor containment — every token with true count
   *     > n/(capacity+1) is in the summary;
   *  2. the under-count bound — for every token, est ≤ true and
   *     true − est ≤ n/(capacity+1); absent tokens have est = 0, so
   *     absence itself proves true ≤ n/(capacity+1).
   *
   * The projection (lang, tok, true_count, mg_ok) is therefore fully
   * deterministic: the DuckDB twin emits mg_ok = TRUE from exact
   * counts alone, and any implementation bug in the native aggregate
   * (a lost counter, an over-decrement, a broken merge truncation)
   * flips a row to false and hash-mismatches. Comparisons are exact
   * integers — x·(capacity+1) vs n, never a float division.
   *
   * `capacity` defaults BELOW the per-lang vocabulary so eviction —
   * the code path worth auditing — actually fires at every SF.
   * Shape: the same one (lang, tok) count shuffle as [[heavyHitters]]
   * plus the sketch's own capacity-bounded aggregation; the join back
   * is vocabulary-sized.
   */
  def heavyHittersSketchAudit(docs: DataFrame,
                              capacity: Int = 16): DataFrame = Staged.run { stage =>
    require(capacity > 0, "capacity must be positive")
    val toks = stage(docs.select(col("lang"), explode(tokens(col("text"))).as("tok")))
    val exact = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("true_count"))
    val totals = exact.groupBy(col("lang")).agg(sum(col("true_count")).as("n"))
    val sketch = toks.groupBy(col("lang"))
      .agg(call_function("graft_topfreq", col("tok"), lit(capacity)).as("top"))
      .select(col("lang"), explode(col("top")).as("e"))
      .select(col("lang"), col("e.item").as("tok"), col("e.est").as("est"))
    exact.join(totals, "lang")
      .join(sketch, Seq("lang", "tok"), "left_outer")
      .select(col("lang"), col("tok"), col("true_count"),
        when(col("est").isNull,
          col("true_count") * (capacity + 1) <= col("n"))
          .otherwise(col("est") > 0 && col("est") <= col("true_count") &&
            (col("true_count") - col("est")) * (capacity + 1) <= col("n"))
          .as("mg_ok"))
      .localCheckpoint(true)
  }

  /**
   * Count-Min frequency estimates — the third portable sketch beside
   * the md5 HLL (distinct counts) and the Bloom prefilter (membership):
   * a d×w counter matrix where cell (i, c) sums the multiplicity of
   * every token whose i-th md5 word ≡ c (mod w). Counters are SUMS, so
   * unlike Misra–Gries ([[heavyHittersSketch]], whose summary depends
   * on partial-merge order and is rows-only forever) the state is
   * independent of row order, partitioning, and merge shape — exact
   * integers, full cross-engine oracle.
   *
   * Expressed relationally on purpose: exploding d (row, col) cells per
   * token feeds a hash aggregation whose map-side partials collapse to
   * ≤ d·w rows per partition (4096 cells at the defaults) — the shuffle
   * is sketch-sized, not corpus-sized, which is the same property a
   * native buffer would buy at 100 TB, without leaving whole-stage
   * codegen. The probe joins the top-`k` exact terms against their d
   * cells and takes the min counter: est ≥ true always (counters only
   * ever over-count), and est − true ≤ εn with ε = e∕w at the classic
   * δ = e^−d confidence. Returns (tok, true_count, est, rk).
   *
   * Hash contract (mirrored in the twin): the i-th of 4 md5 words is
   * hex chars [8i, 8i+8) of md5(tok) as a 32-bit integer, col = word
   * mod w — one md5 per token, d sub-hashes from disjoint digest bits.
   */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 20,
                      w: Int = 1024): DataFrame = Staged.run { stage =>
    require(k > 0 && w > 0, "need k > 0 and w > 0")
    import org.apache.spark.sql.expressions.Window
    val cellsOf = // d=4 (row, col) cells per token from one md5
      s"transform(sequence(0, 3), i -> struct(i AS r, CAST(conv(substring(md5(tok), i*8+1, 8), 16, 10) AS BIGINT) % $w AS c))"
    // ONE token-scale shuffle (the count agg) feeds both the matrix and
    // the top-k; md5 runs once per DISTINCT token (vocabulary-sized),
    // not per occurrence — cell counters sum the multiplicities
    val counts = stage(docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_count")))
    val cells = counts.select(col("true_count"), explode(expr(cellsOf)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("true_count")).as("n"))
    // distributed TakeOrdered for the top-k (total order: ties break on
    // tok), THEN rank — the single-partition window sees only k rows
    val top = counts.orderBy(col("true_count").desc, col("tok")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("true_count").desc, col("tok"))))
    val probes = top.select(col("tok"), col("true_count"), col("rk"),
      explode(expr(cellsOf)).as("rc"))
    probes
      .join(cells, probes("rc.r") === cells("r") && probes("rc.c") === cells("c"))
      .groupBy(col("tok"), col("true_count"), col("rk"))
      .agg(min(col("n")).as("est"))
      .select(col("tok"), col("true_count"), col("est"),
        col("rk").cast("long").as("rk"))
      .localCheckpoint(true)
  }

  /**
   * Feature-hashing document embeddings (the hashing trick: Weinberger
   * et al., ICML'09) — a `dim`-cell signed bag-of-words vector with NO
   * trained model: cell = first md5 word of the token mod dim, sign =
   * parity of the second word, value = Σ signed token counts. This is
   * the bridge from the text family to the vector family — hashEmbed →
   * brute-force/LSH/IVF turns ANY text corpus into a similarity-search
   * corpus without external embeddings (and with cosine equal to the
   * sign-hashed BoW kernel in expectation).
   *
   * Fully exact-integer (cells are sums of signed counts, md5 both
   * engines share), so the oracle pins every component. Scale shape:
   * the (doc, token) count aggregation is the one corpus-wide shuffle
   * (the tf backbone every text op shares); the cell fold is
   * (doc, ≤dim) sized and the final assembly is one map-per-doc
   * aggregation. Returns (doc_id, vec: array<long> of length dim).
   */
  def hashEmbed(docs: DataFrame, dim: Int = 64): DataFrame =
    hashEmbedFromCounts(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt")),
      dim)

  /** [[hashEmbed]] over a PRECOMPUTED (doc_id, tok, cnt) frame — the tf
    * backbone every text op shares. Callers that already hold those
    * counts (hybridSearch's BM25 channel) reuse them instead of paying a
    * second tokenize + corpus-wide shuffle (r14 optimization, guide
    * §2.4: two operations keyed the same way share one exchange). */
  private[pipeline] def hashEmbedFromCounts(counts: DataFrame,
                                            dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    val cells = counts.select(col("doc_id"),
      expr(s"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % $dim").as("j"),
      (expr("CASE WHEN CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 1L ELSE -1L END")
        * col("cnt")).as("v"))
      .groupBy(col("doc_id"), col("j")).agg(sum(col("v")).as("v"))
    cells.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("v")))).as("m"))
      .select(col("doc_id"),
        expr(s"transform(sequence(CAST(0 AS BIGINT), CAST(${dim - 1} AS BIGINT)), j -> coalesce(m[j], 0L))")
          .as("vec"))
  }

  /**
   * Incremental corpus dedup — the daily-ingest shape: dedup the NEW
   * batch within itself (min doc_id per normalized text), then drop
   * every normalized text the HISTORICAL corpus already contains.
   * Returns the surviving new docs as (doc_id, is_new_text = always
   * true rows only). One hash-group on the batch + one anti-join.
   *
   * Scale shape: the batch is small relative to history (a day's crawl
   * vs the accumulated corpus), so the anti-join shuffles the BATCH to
   * history's layout, never the reverse: persist the historical
   * fingerprint set as a table bucketed by the join key (the layout
   * [[graft.log.FactLog]] gives the fact log) and the
   * nightly run reads it shuffle-free. Keys here are the normalized
   * text itself so the DuckDB oracle replays string-exactly; at 100 TB
   * you key `xxhash64(norm)` — 8-byte keys, same plan (collisions
   * re-checked on the string like the LSH verify stage).
   */
  def dedupIncremental(newBatch: DataFrame, history: DataFrame): DataFrame =
    newBatch
      .groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dups"))
      .join(history.select(normText(col("text")).as("norm")).distinct(),
        Seq("norm"), "left_anti")
      .select(col("doc_id"), col("batch_dups"))

  /**
   * Domain mixing: deterministic per-source quota sampling — the data-
   * mixing step a pretraining pipeline runs to hit its target corpus
   * composition (keep at most `quota` documents per source, chosen by a
   * stable hash order so reruns and incremental appends agree on the
   * kept set). Selection priority is `md5(doc_id)` — uniform,
   * engine-portable (the DuckDB oracle replays it bit-for-bit), and
   * independent of input order. Returns (doc_id, source, rk), rk =
   * 1-based rank within the source's kept set.
   *
   * Scale shape: the naive form is one window sort over EVERY row of
   * each source — at 100 TB a popular domain funnels billions of rows
   * through one partition's sort. This implementation prunes first:
   * because md5 is uniform, the quota-th smallest hash of an n-row
   * source concentrates at ≈ quota/n of the hash space, so a cheap
   * count-by-source (map-side-combined, rows ∝ #sources) yields a
   * per-source hash-prefix threshold at `margin ×` that fraction; the
   * window then ranks only ~margin×quota candidates per source. The
   * prune is EXACT, not probabilistic: a second count-by-source over
   * the candidates verifies each source still holds min(quota, n)
   * rows under its threshold, and any source that undershoots (wildly
   * skewed luck) falls back to ranking all its rows. Candidates are a
   * prefix of each source's md5 order, so ranks are unchanged by the
   * prune.
   */
  def domainMix(docs: DataFrame, quota: Int, margin: Double = 4.0): DataFrame = {
    require(quota > 0 && margin >= 1.0, "quota must be positive, margin >= 1")
    import org.apache.spark.sql.expressions.Window
    val pr = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("h"))
    // per-source row counts → hash-prefix thresholds. Sources are a
    // dimension (10²–10⁵ rows even at 100 TB): broadcast both ways.
    val thr = pr.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("frac", least(lit(1d), lit(margin * quota) / col("n")))
      .withColumn("thr8", when(col("frac") >= 1d, lit("zzzzzzzz")) // keep all
        // first 8 hex chars compare exactly like the top 32 hash bits
        .otherwise(lpad(lower(hex(floor(col("frac") * 4294967296d)
          .cast("long"))), 8, "0")))
    val cand = pr.join(broadcast(thr), Seq("source"))
      .where(substring(col("h"), 1, 8) <= col("thr8"))
    // exactness check: did the threshold retain min(quota, n) per source?
    // (left join from the FULL source list — a source whose threshold
    // kept zero rows must land in the fallback set too)
    val short = thr.select(col("source"), col("n"))
      .join(cand.groupBy(col("source")).agg(count(lit(1)).as("kept")),
        Seq("source"), "left_outer")
      .where(coalesce(col("kept"), lit(0L)) < least(lit(quota.toLong), col("n")))
      .select(col("source"))
    val ranked = cand.join(broadcast(short), Seq("source"), "left_anti")
      .select(col("source"), col("doc_id"), col("h"))
      .unionAll(pr.join(broadcast(short), Seq("source"), "left_semi")
        .select(col("source"), col("doc_id"), col("h")))
    ranked
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .where(col("rk") <= quota)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
  }

  /**
   * TF-IDF top-`k` terms per document — the keyword/topic signal a
   * curation pipeline extracts per doc (and the exact shape BM25 mining
   * starts from). Smoothed idf `ln((N + 1)/(df + 1)) + 1` (the sklearn
   * form: never negative, never /0), score = tf · idf, ranked
   * (score desc, term asc). Returns (doc_id, term, tfidf, rk).
   *
   * Scale shape: ONE wide shuffle — the (doc, token) term-frequency
   * aggregation with map-side partials (same backbone as [[bm25Scores]]).
   * Document frequencies re-aggregate FROM tf (no second tokenize), and
   * the (term, df) table is vocabulary-sized (Zipf: ~10⁶ rows at 100 TB)
   * so the score join broadcasts it. The final top-k window partitions
   * by doc_id — per-doc term counts are bounded by document length, so
   * no partition outgrows a task no matter the corpus size.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = Staged.run { stage =>
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val tf = stage(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf")))
    val nDocs = docs.count().toDouble // one scalar action, like bm25's (N, avgdl)
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(nDocs + 1d) / (col("df") + 1d)) + 1d)
    tf
      .join(broadcast(dfTab.select(col("term"), col("idf"))), Seq("term"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("term"),
        round(col("score"), 4).as("tfidf"), col("rk").cast("long").as("rk"))
      .localCheckpoint(true)
  }

  /**
   * Bottom-k sketch per document: the `k` smallest `md5(shingle)` values
   * over the doc's distinct word-3-gram shingles — a fixed-size content
   * fingerprint whose pairwise overlap estimates Jaccard similarity
   * (bottom-k minhash, the one-permutation cousin of the LSH signature
   * in [[dedupMinHashLsh]]). Unlike the xxhash64 [[fingerprint]], every
   * stage is engine-portable, so the DuckDB oracle re-derives the
   * sketch bit-for-bit. Returns (doc_id, rk, h) — docs with fewer than
   * k shingles emit fewer rows, shingle-less docs emit none.
   *
   * Scale shape: tokenize → shingle → explode is map-only; the only
   * shuffle is the per-doc rank, and the window partitions by doc_id
   * with per-doc cardinality bounded by document length. (A grouped
   * min-k heap aggregate would shortlist map-side like `graft_topk`;
   * at one row per doc×shingle the bounded window is already the plan
   * Spark picks for its own `collect_list`-style shapes.)
   */
  def bottomKSketch(docs: DataFrame, k: Int = 5): DataFrame = Staged.run { stage =>
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    // persist barrier: CollapseProject would otherwise inline tokens()
    // into shinglesFromTokens's size(t)+2 references (the O(tokens²) trap)
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    toks
      .select(col("doc_id"), explode(shinglesFromTokens(col("t"))).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("h"))))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("h"))
      .localCheckpoint(true)
  }

  /** Word n-grams WITH multiplicity from a token-array attribute (the
    * non-distinct sibling of [[shinglesFromTokens]] — importance
    * weighting needs occurrence counts, not set membership). Same
    * staging rule: `t` must be a materialized column. */
  def ngramsFromTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /**
   * N-gram novelty per document: of the doc's distinct word `n`-gram
   * shingles, how many first appeared in an EARLIER document (smaller
   * doc_id)? A doc whose grams are mostly "stale" is boilerplate-heavy
   * even when document-level dedup (exact/minhash/simhash) passes it —
   * the per-doc scalar twin of [[dupSpans]]' span extraction, and the
   * ranking signal RefinedWeb-style pipelines deprioritize on.
   *
   * Returns (doc_id, n_grams, n_stale, novelty) with novelty =
   * round(1 − n_stale/n_grams, 4) (1.0 for gram-less docs — nothing
   * proven stale). All counts are integers; the one float is a ratio
   * of those integers, formed identically by any engine.
   *
   * Scale shape: explode is map-only off the staged token arrays; the
   * first-occurrence attribution is ONE gram-keyed aggregation and one
   * gram-keyed equi-join (never all-pairs), then a doc-keyed count —
   * the dup_spans backbone. At 100 TB the gram relation is the corpus
   * token count × n; both shuffles hash-partition on keys with
   * cardinality ≥ vocabulary, so no skew hot-spots beyond stopword
   * grams, which the distinct-per-doc projection already caps at one
   * row per (doc, gram).
   */
  def gramNovelty(docs: DataFrame, n: Int = 3): DataFrame = Staged.run { stage =>
    val toks = stage(docs.select(col("doc_id"), tokens(col("text")).as("t")))
    val dg = toks.select(col("doc_id"),
      explode(shinglesFromTokens(col("t"), n)).as("g"))
    val first = dg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = dg.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_stale"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_stale"), lit(0L)).cast("long").as("n_stale"))
      .withColumn("novelty",
        when(col("n_grams") === 0, lit(1.0))
          .otherwise(round(lit(1.0) - col("n_stale").cast("double") / col("n_grams"), 4)))
      .localCheckpoint(true)
  }

  /**
   * Zipf rank–frequency slope per language: the OLS slope of
   * ln(freq) on ln(rank) over the unigram distribution — the standard
   * "is this corpus natural text?" diagnostic (natural language sits
   * near −1; template farms and boilerplate pile mass into flat
   * heads or truncated tails). Sibling of [[heapsLaw]] (vocabulary
   * growth) on the frequency axis.
   *
   * Ranks WITHOUT a vocabulary-sized global sort: ranks are derived
   * from the frequency HISTOGRAM (freq → #tokens at that freq), which
   * is tiny (distinct frequency values ~10⁴ even at 100 TB corpora —
   * Zipf itself guarantees the head is sparse and the tail collapses
   * onto few values). All tokens sharing a frequency get the run's
   * min-rank (competition ranking), so each histogram row contributes
   * its term h-fold in closed form. The only window runs over the
   * per-language histogram — bounded rows, never the vocabulary.
   *
   * Exactness (§28 doctrine): every OLS moment is quantized to integer
   * micros PER HISTOGRAM ROW (⌊h·lnr·lnf·10⁶+½⌋) and summed as
   * DECIMAL(38,0) — integer addition is order-free, so the engines
   * agree bit-for-bit up to the one final double division. The twin
   * replays the same expression sequence in HUGEINT.
   */
  def zipfSlope(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("f"))
    val hist = tf.groupBy(col("lang"), col("f")).agg(count(lit(1)).as("h"))
    val w = Window.partitionBy(col("lang")).orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist.select(col("lang"), col("f"), col("h"),
      (lit(1L) + coalesce(sum(col("h")).over(w), lit(0L))).as("r"))
    val x = log(col("r"))
    val y = log(col("f"))
    def micro(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast(d38)
    val s = ranked.groupBy(col("lang")).agg(
      sum(col("h")).cast(d38).as("n"),
      sum(col("f") * col("h")).cast("long").as("n_tokens"),
      sum(micro(col("h") * x)).as("sx"),
      sum(micro(col("h") * y)).as("sy"),
      sum(micro(col("h") * x * y)).as("sxy"),
      sum(micro(col("h") * x * x)).as("sxx"))
    val den = col("n") * col("sxx") * lit(1000000L).cast(d38) - col("sx") * col("sx")
    val num = col("n") * col("sxy") * lit(1000000L).cast(d38) - col("sx") * col("sy")
    s.select(col("lang"), col("n").cast("long").as("vocab"), col("n_tokens"),
      when(den.cast("double") === 0d, lit(0.0))
        .otherwise(round(num.cast("double") / den.cast("double"), 4)).as("slope"))
  }

  /**
   * Unigram entropy per language, in nats: H = ln N − (Σ c·ln c)∕N
   * over the token frequency table — the corpus-diversity scalar
   * (low entropy = a few tokens dominate: scrape loops, boilerplate;
   * the ceiling is ln(vocab)). One corpus explode → token-keyed count
   * (map-side combined, vocabulary-sized result) → per-language fold.
   *
   * Exactness: c·ln c quantizes to integer micros per TERM and sums
   * as DECIMAL(38,0) (a Long sum wraps once Σc·lnc·10⁶ passes 2⁶³ —
   * ~3·10¹¹ tokens, inside the 100 TB regime); the final expression
   * ln N − sc∕10⁶∕N is the same op sequence on both engines.
   */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("lang")).agg(
        sum(col("c")).as("n"),
        count(lit(1)).cast("long").as("vocab"),
        sum(floor(col("c") * log(col("c")) * lit(1e6) + lit(0.5)).cast(d38)).as("sc"))
      .select(col("lang"), col("n").cast("long").as("n_tokens"), col("vocab"),
        round(log(col("n").cast("double")) -
          col("sc").cast("double") / lit(1e6) / col("n").cast("double"), 6)
          .as("entropy_nats"))
  }

  /**
   * Heaps'-law vocabulary-growth audit: at each corpus prefix (first
   * i/`steps` of the documents in doc_id order), the running token
   * total and the distinct-token vocabulary size. The V(n) ≈ K·n^β
   * curve this samples is the standard check that a corpus keeps
   * contributing new vocabulary (a flattening curve means the tail is
   * re-treading the head — scrape loops, template farms).
   *
   * Returns (pct, n_docs, total_tokens, distinct_tokens), all exact
   * integers. The prefix membership contract is integer-exact: doc
   * rank r (1-based, by doc_id) is inside checkpoint i iff
   * r ≤ (i·N)/steps with integer division.
   *
   * Scale shape: cumulative-distinct is NOT computed per prefix —
   * each token contributes its FIRST-occurrence rank (one token-keyed
   * aggregation), and a checkpoint then counts tokens with
   * first_rank ≤ cutoff via a broadcast range-join against the
   * `steps`-row checkpoint table (each token row duplicated ≤ steps
   * times, then collapsed map-side). The doc rank is
   * [[graft.operators.Ranks.prefixRank]] — a range shuffle + offset
   * stamp, so no task ever sorts the whole corpus; the token-side
   * plan is unchanged.
   */
  def heapsLaw(docs: DataFrame, steps: Int = 10): DataFrame = Staged.run { stage =>
    val spark = docs.sparkSession
    import spark.implicits._
    require(steps > 0, "steps must be positive")
    val ranked = stage(graft.operators.Ranks.prefixRank(
        docs.select(col("doc_id"), tokens(col("text")).as("t")),
        Seq(col("doc_id")), "rk"))
    val nDocs = ranked.count()
    val cps = (1 to steps)
      .map(i => (i * 100L / steps, i * nDocs / steps))
      .toDF("pct", "cutoff")
    val totals = ranked
      .select(col("rk"), size(col("t")).cast("long").as("n_tok"))
      .join(broadcast(cps), col("rk") <= col("cutoff"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    val firstRank = ranked
      .select(col("rk"), explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(min(col("rk")).as("fr"))
    val vocab = firstRank
      .join(broadcast(cps), col("fr") <= col("cutoff"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("distinct_tokens"))
    totals.join(vocab, Seq("pct"), "left")
      .select(col("pct").cast("long").as("pct"),
        col("n_docs").cast("long").as("n_docs"),
        col("total_tokens").cast("long").as("total_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).cast("long").as("distinct_tokens"))
      .localCheckpoint(true)
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): score every doc
   * by how much its hashed-bigram profile looks like a TARGET slice
   * of the corpus (here: `targetLang` docs) versus the raw pool.
   *
   * Exactness contract: the per-feature log-ratio is quantized to the
   * INTEGER floor-log2 — λ_f = bitlen(t_f+1) − bitlen(r_f+1) where
   * bitlen(n) = length(bin(n)) — so a doc's score Σ count_{d,f}·λ_f
   * is a sum of integers: order-independent and bit-portable (both
   * Spark and DuckDB ship `bin`). No `ln` crosses the engine boundary
   * (the §23/§28 float doctrine; libm log differs in the last ulp
   * between engines, and round-to-grid flips at grid edges).
   *
   * Feature = first 32-bit md5 word of the word-bigram, mod `dim` —
   * the same portable-hash staging as [[portableHashPairs]].
   *
   * Returns (doc_id, n_feat, score): bigram occurrence count and the
   * integer importance score (higher = more target-like). Docs with
   * <2 tokens score 0 on 0 features.
   *
   * Scale shape: one feature-keyed aggregation builds both
   * distributions in a single pass (count + conditional count — no
   * second corpus scan for the target side), one (doc, feature)
   * aggregation with map-side combine, one dim-bounded equi-join
   * (λ table has ≤ dim rows → broadcast), one doc-keyed sum.
   */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  dim: Int = 4096): DataFrame = Staged.run { stage =>
    require(dim > 0, "dim must be positive")
    def bitlen(c: Column): Column = length(bin(c))
    val toks = stage(docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("t")))
    val occ = stage(toks
      .select(col("doc_id"), col("lang"),
        explode(ngramsFromTokens(col("t"), 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % dim).as("f")))
    val lam = occ.groupBy(col("f"))
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t"))
      .select(col("f"),
        (bitlen(col("t") + 1) - bitlen(col("r") + 1)).cast("long").as("lam"))
    val perDocFeat = occ.groupBy(col("doc_id"), col("f"))
      .agg(count(lit(1)).as("cnt"))
    val scored = perDocFeat.join(broadcast(lam), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_feat"),
        sum(col("cnt") * col("lam")).cast("long").as("score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("score"), lit(0L)).as("score"))
      .localCheckpoint(true)
  }

  /**
   * Tokenizer-fertility audit per language: bytes and characters per
   * BPE-ish token — the number that decides how expensive a language
   * is to train on under a given tokenizer (CJK text runs fewer,
   * fatter tokens; the bytes/token ratio is the standard "fertility"
   * diagnostic). Whitespace tokens reported alongside as the naive
   * baseline.
   *
   * Returns (lang, n_docs, total_bytes, total_chars, n_ws, n_bpe,
   * bytes_per_bpe, chars_per_bpe) — the totals exact integers, the
   * two ratios formed from them (round 4). One lang-keyed aggregation
   * with map-side combine; tokenization never leaves the scan
   * projection.
   */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        expr("octet_length(text)").cast("long").as("b"),
        length(col("text")).cast("long").as("c"),
        nTokens(col("text")).cast("long").as("ws"),
        size(bpeTokens(col("text"))).cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("b")).as("total_bytes"),
        sum(col("c")).as("total_chars"),
        sum(col("ws")).as("n_ws"),
        sum(col("bpe")).as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("total_bytes"),
        col("total_chars"), col("n_ws"), col("n_bpe"),
        round(col("total_bytes").cast("double") / col("n_bpe"), 4).as("bytes_per_bpe"),
        round(col("total_chars").cast("double") / col("n_bpe"), 4).as("chars_per_bpe"))

  /**
   * Vocabulary drift between a NEW ingest batch and the accumulated
   * corpus — the monitoring table a daily pipeline alerts on before
   * letting a crawl into the training mix: smoothed
   * KL(batch ‖ history) over the UNION vocabulary, with the top-k most
   * divergent tokens as the actionable artifact (the
   * [[EventStream.typeDriftDaily]] doctrine lifted from event types to
   * the token distribution).
   *
   * Portability: p = (c_batch + ½)∕(N_batch + ½V) and q = the
   * history's — every input an exact integer, so both engines form the
   * same doubles; each token's KL term p·ln(p∕q) is quantized to
   * integer PICOs per row (floor(term·10¹² + ½) — terms CAN be
   * negative, and floor(x + ½) is round-half-up in both engines);
   * kl_pico is the order-free integer total. The top-k cut is
   * orderBy(|term| desc, tok) + limit — TakeOrderedAndProject heaps,
   * never a global sort — and the rank window touches k rows.
   *
   * Returns k rows: (tok, c_hist, c_batch, term_pico, kl_pico, rk).
   *
   * Scale shape: two token-keyed counts (map-side combined) + one
   * full-outer join on the token key; the totals row broadcasts to the
   * term projection (single-row crossJoin, the heapsLaw shape).
   */
  def vocabDrift(newBatch: DataFrame, history: DataFrame,
                 k: Int = 20): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    def counts(df: DataFrame, name: String) =
      df.select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(name))
    val joined = stage(counts(newBatch, "c_batch")
      .join(counts(history, "c_hist"), Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("c_batch"), lit(0L)).as("c_batch"),
        coalesce(col("c_hist"), lit(0L)).as("c_hist")))
    val tot = joined.agg(
      sum(col("c_batch")).as("nb"), sum(col("c_hist")).as("nh"),
      count(lit(1)).as("vv"))
    val p = (col("c_batch") + lit(0.5)) / (col("nb") + lit(0.5) * col("vv"))
    val q = (col("c_hist") + lit(0.5)) / (col("nh") + lit(0.5) * col("vv"))
    val terms = stage(joined.crossJoin(broadcast(tot))
      .select(col("tok"), col("c_hist"), col("c_batch"),
        floor((p * log(p / q)) * lit(1e12) + lit(0.5))
          .cast("long").as("term_pico")))
    val kl = terms.agg(sum(col("term_pico")).as("kl_pico"))
    terms
      .orderBy(abs(col("term_pico")).desc, col("tok")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("term_pico")).desc, col("tok"))))
      .crossJoin(broadcast(kl))
      .select(col("tok"), col("c_hist"), col("c_batch"), col("term_pico"),
        col("kl_pico"), col("rk").cast("long").as("rk"))
      .localCheckpoint(true)
  }

  /**
   * Largest-remainder (Hamilton) apportionment of an integer sampling
   * budget across sources: each source gets ⌊B·n_s∕N⌋ docs, and the
   * leftover seats go to the largest remainders (B·n_s mod N, ties by
   * source name) — the standard way to turn fractional mixture weights
   * into an integer per-source quota that sums EXACTLY to the budget
   * (naive rounding over- or under-shoots; [[mixtureWeights]] gives
   * the fractions, this gives the draw counts).
   *
   * Returns (source, n_docs, quota) with Σ quota = budget, all
   * integers. One source-keyed count, then window math over the
   * #sources-row table — driver-free and exact at any corpus size
   * (the source dimension, not the corpus, is what's windowed).
   */
  def quotaApportion(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, "budget must be non-negative")
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("base", expr(s"$budget * n_docs div n"))
      .withColumn("rem", expr(s"$budget * n_docs % n"))
      .withColumn("leftover",
        lit(budget) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
    counts.select(col("source"), col("n_docs").cast("long").as("n_docs"),
      (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .cast("long").as("quota"))
  }

  /**
   * Data-recipe epoch planner — the "how many times does each source
   * repeat" table a training run is provisioned from: an integer TOKEN
   * budget is apportioned EQUALLY across sources (largest remainder on
   * uniform weights — the temperature-0 recipe that upsamples small
   * high-quality feeds), sources whose equal share exceeds `maxEpochs`
   * passes over their corpus are CAPPED at maxEpochs·tokens, and the
   * freed budget re-apportions across the uncapped sources
   * proportionally to their token mass (one redistribution round — the
   * documented contract; a source pushed past its cap BY the
   * redistribution is clamped by a final min and flagged).
   *
   * §28 float discipline: every quantity is an exact integer
   * (whitespace-token sums, div/mod apportionment); the epochs figure
   * is emitted as `epochs_ppm` = 10⁶·alloc div tokens — an exact
   * integer both engines reproduce bit-for-bit, instead of a rounded
   * rational that can land on a half-point. Long bounds: budget·t_s and
   * 10⁶·alloc must stay under 2⁶³ (budget ≤ ~10¹² tokens against ~10⁹-
   * token sources; widen to DECIMAL(38) past that).
   *
   * Shape: one corpus aggregation to (source, tokens), then window math
   * over the #sources-row dimension plus one scalar fold — driver-free
   * on the corpus, exact at any size. Returns (source, tokens,
   * alloc_tokens, epochs_ppm, capped).
   */
  def epochPlan(docs: DataFrame, budget: Long,
                maxEpochs: Long = 4L): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, "budget must be non-negative")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val w = Window.partitionBy()
    val q = stage(docs
      .select(col("source"), nTokens(col("text")).cast("long").as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("t"))
      .withColumn("s", count(lit(1)).over(w))
      .withColumn("base", expr(s"$budget div s"))
      .withColumn("leftover", lit(budget) - expr(s"s * ($budget div s)"))
      // equal weights tie on remainder by construction: seat order is
      // the source name itself (deterministic in both engines)
      .withColumn("rk", row_number().over(Window.orderBy(col("source"))))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .withColumn("cap_alloc", lit(maxEpochs) * col("t"))
      .select(col("source"), col("t"), col("quota"), col("cap_alloc")))
    val f = q.agg(
      sum(when(col("quota") > col("cap_alloc"),
        col("quota") - col("cap_alloc")).otherwise(0L)).as("freed"),
      sum(when(col("quota") <= col("cap_alloc"), col("t")).otherwise(0L)).as("u"))
      .head()
    val (freed, u) =
      (if (f.isNullAt(0)) 0L else f.getLong(0), if (f.isNullAt(1)) 0L else f.getLong(1))
    val unc = q.where(col("quota") <= col("cap_alloc"))
    val extra =
      if (freed > 0 && u > 0)
        unc
          .withColumn("base2", expr(s"$freed * t div $u"))
          .withColumn("rem2", expr(s"$freed * t % $u"))
          .withColumn("leftover2", lit(freed) - sum(col("base2")).over(w))
          .withColumn("rk2", row_number().over(
            Window.orderBy(col("rem2").desc, col("source"))))
          .select(col("source"),
            (col("base2") + when(col("rk2") <= col("leftover2"), 1L)
              .otherwise(0L)).as("extra"))
      else unc.select(col("source"), lit(0L).as("extra"))
    q.join(extra, Seq("source"), "left_outer")
      .withColumn("want", col("quota") + coalesce(col("extra"), lit(0L)))
      .select(col("source"), col("t").as("tokens"),
        least(col("cap_alloc"), col("want")).as("alloc_tokens"),
        expr("1000000 * least(cap_alloc, want) div t").as("epochs_ppm"),
        (col("want") > col("cap_alloc")).as("capped"))
      .localCheckpoint(true)
  }

  /**
   * Deterministic training-shard manifest — the last step before
   * writing shards: every doc gets a shard (multiplicative integer
   * hash, the [[splitAssign]] family, so assignment is a pure portable
   * function of doc_id) and a reproducible pseudo-random position
   * within its shard (rank by a SECOND independent multiplicative
   * hash — 2246822519, the public xxhash prime — doc_id tiebreak), so a
   * training run reads shards in a stable shuffled order with no global
   * sort anywhere: the manifest is one shuffle by shard and a per-shard
   * window over corpus∕nShards rows. At 100 TB nShards is tens of
   * thousands and each shard's window sorts one worker-sized slice.
   * Returns (doc_id, shard, pos).
   */
  def shardManifest(docs: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, "nShards must be positive")
    val h1 = expr("((doc_id % 2147483648) * 2654435761) % 4294967296")
    val h2 = expr("((doc_id % 2147483648) * 2246822519) % 4294967296")
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        (h1 % nShards).cast("long").as("shard"), h2.as("h2"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h2"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /**
   * CCNet-style quality tiers: rank documents within each language by
   * a unigram-LM plausibility score and cut into head/middle/tail
   * tertiles (CCNet buckets by Wikipedia-LM perplexity; the integer
   * analog here scores by corpus-frequency mass so the contract stays
   * engine-exact — see below).
   *
   * The score is the integer bitlen-logprob surrogate: Σ over the
   * doc's tokens of bitlen(corpus count of that token), i.e. a
   * floor-log2 quantization of Σ log c(w) — order-independent (a sum
   * of integers) where avg(log p) would be summation-order float (the
   * §28 doctrine; the [[unigramLogProb]] float form stays available
   * for in-engine filtering). Per-token average compares as the exact
   * rational sum_bl∕n_tokens via one double division of integers.
   *
   * Tier contract (integer-exact tertiles): rank within lang by
   * (avg desc, doc_id), then head iff 3·rk ≤ n, middle iff 3·rk ≤ 2·n,
   * else tail. Token-less docs score 0 on 0 tokens (avg 0 → tail end).
   *
   * Returns (doc_id, lang, n_tokens, sum_bl, tier).
   *
   * Scale shape: token-keyed count (map-side combine) joined back to
   * the token instances (AQE broadcasts the count table while it
   * fits; at 100 TB join the head vocabulary broadcast + tail
   * backoff), one doc-keyed sum, one per-lang window over doc-sized
   * rows (lang-partitioned sort, the splitStratified shape).
   */
  def qualityTiers(docs: DataFrame): DataFrame = Staged.run { stage =>
    import org.apache.spark.sql.expressions.Window
    val exploded = stage(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    val counts = exploded.groupBy(col("tok"))
      .agg(count(lit(1)).as("c"))
      .select(col("tok"), length(bin(col("c"))).cast("long").as("bl"))
    val perDoc = exploded.join(counts, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bl")).as("sum_bl"))
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
        coalesce(col("sum_bl"), lit(0L)).cast("long").as("sum_bl"))
      .withColumn("avg_bl",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("sum_bl").cast("double") / col("n_tokens")))
    val w = Window.partitionBy(col("lang"))
    scored
      .withColumn("rk", row_number().over(
        w.orderBy(col("avg_bl").desc, col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("sum_bl"),
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("tier"))
      .localCheckpoint(true)
  }

  /**
   * Distributed BPE merge learning (Sennrich et al., "Neural Machine
   * Translation of Rare Words with Subword Units", ACL'16) — the
   * tokenizer-training step itself, run the way production BPE trainers
   * run it: over the word-FREQUENCY dictionary, never the raw corpus.
   *
   * One corpus-wide token count builds `wf(word, freq)`; every learning
   * iteration after that touches only the vocabulary table (≪ corpus —
   * ~10⁶ rows at 100 TB where the corpus is 10¹¹ tokens). Per round:
   * adjacent-symbol pairs explode from the per-word symbol arrays
   * (map-only), one pair-keyed weighted count picks the argmax (ties by
   * (weight desc, left asc, right asc) — deterministic), and the merge
   * applies as a leftmost-greedy fold over each word's symbol array via
   * the `aggregate` higher-order function — map-only, no shuffle. The
   * driver sees exactly one row per round (the winning pair): bounded,
   * like the k-means centroid pulls.
   *
   * Greedy-leftmost fold semantics: merge at position i iff the running
   * last symbol equals `left` and the incoming symbol equals `right` —
   * overlapping matches (only possible when left == right, i.e. runs of
   * a repeated symbol) resolve to even offsets within the run, the
   * standard BPE behavior. All weights are exact integers, so the
   * DuckDB twin (unrolled per-round CTEs with the gaps-and-islands
   * parity rule for runs) reproduces the merge table bit-for-bit.
   *
   * Returns `(rank, left, right, weight)` — the ordered merge list a
   * tokenizer ships as its vocab artifact.
   */
  def bpeLearn(docs: DataFrame, numMerges: Int): DataFrame =
    bpeTrain(docs, numMerges)._1

  /** Memoized BPE training per (session, sf dir, rounds) — the
    * deployment shape: a tokenizer is trained ONCE and its merge table /
    * final segmentation serve every downstream query (merges artifact,
    * vocabulary, fertility). Same LRU discipline as the IVF index and
    * LPA labelings; eviction unpersists the symbol table. */
  object BpeCache {
    private val cache = new graft.util.LruMemo[
      (org.apache.spark.sql.SparkSession, String, Int), (DataFrame, DataFrame)](
      2, t => t._2.unpersist(false))
    def trained(spark: org.apache.spark.sql.SparkSession, dir: String,
                numMerges: Int): (DataFrame, DataFrame) =
      cache.getOrBuild((spark, dir, numMerges))(
        bpeTrain(spark.read.parquet(s"$dir/documents.parquet"), numMerges))
    private[graft] def cachedCount: Int = cache.size
  }

  /** [[bpeLearn]] against the memoized training (build billed once). */
  def bpeMergesCached(spark: org.apache.spark.sql.SparkSession, dir: String,
                      numMerges: Int): DataFrame =
    BpeCache.trained(spark, dir, numMerges)._1

  /** [[bpeEncodeStats]] against the memoized training. */
  def bpeEncodeStatsCached(spark: org.apache.spark.sql.SparkSession,
                           dir: String, numMerges: Int): DataFrame =
    encodeStatsFrom(spark.read.parquet(s"$dir/documents.parquet"),
      BpeCache.trained(spark, dir, numMerges)._2)

  /** [[bpeVocab]] against the memoized training. */
  def bpeVocabCached(spark: org.apache.spark.sql.SparkSession, dir: String,
                     numMerges: Int): DataFrame =
    vocabFrom(BpeCache.trained(spark, dir, numMerges)._2)

  /** Per-document token counts under the learned BPE segmentation —
    * the number a context-length budget is planned against (vs the
    * regex pre-tokenizer estimate in [[tokenCounts]]). Explode words,
    * broadcast-join the dictionary-sized segmentation, one doc-keyed
    * sum; word-less docs emit 0. */
  def bpeDocTokensCached(spark: org.apache.spark.sql.SparkSession,
                         dir: String, numMerges: Int): DataFrame =
    docTokensFrom(spark.read.parquet(s"$dir/documents.parquet"),
      BpeCache.trained(spark, dir, numMerges)._2)

  /** Uncached sibling of [[bpeDocTokensCached]] (tests / ad-hoc). */
  def bpeDocTokens(docs: DataFrame, numMerges: Int): DataFrame = Staged.run { stage =>
    val finalSyms = stage.own(bpeTrain(docs, numMerges)._2)
    docTokensFrom(docs, finalSyms).localCheckpoint(true)
  }

  private def docTokensFrom(docs: DataFrame, finalSyms: DataFrame): DataFrame = {
    val segSizes = finalSyms
      .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(segSizes), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_sub")).cast("long").as("n_bpe_tokens"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /**
   * Corpus fertility under the learned BPE segmentation: after
   * [[bpeLearn]]'s `numMerges` rounds, each vocabulary word is split
   * into its final subword symbols; joining that vocabulary-sized map
   * back to per-language word counts (broadcast — it is dictionary-
   * sized) gives subwords/word by language, the number that decides
   * whether a tokenizer is adequate for a language slice. Integer sums,
   * one final division (round 4).
   */
  def bpeEncodeStats(docs: DataFrame, numMerges: Int): DataFrame = Staged.run { stage =>
    val finalSyms = stage.own(bpeTrain(docs, numMerges)._2)
    encodeStatsFrom(docs, finalSyms).localCheckpoint(true)
  }

  private def encodeStatsFrom(docs: DataFrame, finalSyms: DataFrame): DataFrame = {
    val segSizes = finalSyms
      .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    val langWords = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    langWords.join(broadcast(segSizes), "word")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sub")).as("n_subwords"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 4)
          .as("subwords_per_word"))
  }

  /**
   * Cross-lingual n-gram leakage audit: for every language pair, how
   * many distinct word `n`-grams appear verbatim in BOTH slices —
   * translation-memory contamination, cross-slice copy-paste, and
   * shared template boilerplate all surface here, and none of them are
   * visible to per-language dedup. Returns (lang_a, lang_b,
   * n_shared_grams) with lang_a < lang_b.
   *
   * Scale shape: grams explode map-only off the staged token arrays and
   * hash to md5 before the exchange (16-byte keys, not gram text); ONE
   * gram-keyed `collect_set(lang)` aggregation — whose map-side partials
   * are bounded at #languages entries per gram — then a map-only pair
   * expansion of each gram's sorted language set (≤ C(L,2) structs) and
   * a tiny pair-keyed count. No gram self-join: an earlier version
   * joined the (gram, lang) relation with itself and re-derived it on
   * both sides, which measured 41× on 10× data; the single-aggregation
   * form is corpus-linear.
   */
  def crossLingualLeakage(docs: DataFrame, n: Int = 5): DataFrame = Staged.run { stage =>
    val toks = stage(docs.select(col("lang"), tokens(col("text")).as("t")))
    val byGram = toks
      .select(col("lang"), explode(ngramsFromTokens(col("t"), n)).as("g"))
      .select(col("lang"), md5(col("g")).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("lang"))).as("ls"))
      .where(size(col("ls")) >= 2)
    val pairs = byGram.select(explode(expr(
      "flatten(transform(ls, (x, i) -> " +
        "transform(slice(ls, i + 2, size(ls)), y -> struct(x AS a, y AS b))))"))
      .as("p"))
    pairs
      .groupBy(col("p.a").as("lang_a"), col("p.b").as("lang_b"))
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
      .localCheckpoint(true)
  }

  /**
   * The learned tokenizer's vocabulary artifact: every subword symbol
   * surviving [[bpeLearn]]'s `numMerges` rounds, with its corpus
   * frequency (Σ word-freq over occurrences in final segmentations) —
   * what a tokenizer ships next to the merge table. Dictionary-sized
   * end to end: explode of the final symbol arrays weighted by word
   * frequency, one symbol-keyed sum.
   */
  def bpeVocab(docs: DataFrame, numMerges: Int): DataFrame = Staged.run { stage =>
    val finalSyms = stage.own(bpeTrain(docs, numMerges)._2)
    vocabFrom(finalSyms).localCheckpoint(true)
  }

  private def vocabFrom(finalSyms: DataFrame): DataFrame =
    finalSyms
      .select(col("word"), col("freq"), explode(col("syms")).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("freq")).cast("long").as("freq"),
        countDistinct(col("word")).cast("long").as("n_words"))

  /**
   * Per-source χ² goodness-of-fit divergence against the pooled corpus
   * token distribution — the slice-drift audit (is a crawl snapshot /
   * vendor feed distributionally off?): χ²_s = Σ_t (O_st − E_st)²∕E_st
   * with E_st = R_s·C_t∕N over the FULL pooled vocabulary. Unobserved
   * cells fold into one closed-form term (Σ_{t∉s} E_st =
   * R_s·(N − Σ_{t∈s} C_t)∕N), so only observed (source, token) cells are
   * ever materialized.
   *
   * Exactness contract (§28 doctrine): every input to the per-cell
   * double expression is an exact integer (N·O − R·C as DECIMAL — it
   * squares past 2⁶³ at large corpora), the expression is the SAME
   * op-sequence on both engines, and each cell quantizes to integer
   * micros (⌊x·10⁶ + ½⌋) before the per-source sum — the sum is exact
   * integer addition in any order. One corpus-wide (source, token)
   * count; row totals broadcast (#sources rows); column totals are a
   * vocabulary-sized re-aggregation of the same tf (no second corpus
   * pass).
   */
  def sourceChi2(docs: DataFrame): DataFrame = Staged.run { stage =>
    val tf = stage(docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("o")))
    val rowTot = tf.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val colTot = tf.groupBy(col("tok")).agg(sum(col("o")).as("c"))
    val nDf = tf.agg(sum(col("o")).cast("decimal(38,0)").as("n"))
    val cells = tf
      .join(colTot, "tok")
      .join(broadcast(rowTot), "source")
      .crossJoin(broadcast(nDf))
      .select(col("source"), col("r"), col("c"),
        (col("n") * col("o") - col("r").cast("decimal(38,0)") * col("c"))
          .cast("decimal(38,0)").as("d"),
        col("n"))
      .select(col("source"), col("r"), col("c"),
        floor((col("d").cast("double") * col("d").cast("double")) /
          ((col("n").cast("double") * col("r").cast("double")) * col("c").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("micro"),
        col("n"))
    val perSource = cells
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_cells"), sum(col("micro")).as("obs_micro"),
        first(col("r")).as("r"), sum(col("c")).as("sc"),
        first(col("n")).as("n"))
    perSource
      .select(col("source"), col("r").cast("long").as("n_tokens"),
        col("n_cells").cast("long"),
        (col("obs_micro") +
          floor((col("r").cast("double") *
            (col("n").cast("double") - col("sc").cast("double"))) /
            col("n").cast("double") * lit(1e6) + lit(0.5)).cast("long"))
          .as("chi2_micro"))
      .select(col("source"), col("n_tokens"), col("n_cells"),
        col("chi2_micro"),
        (col("chi2_micro").cast("double") / lit(1e6)).as("chi2"))
      .localCheckpoint(true)
  }

  /** Shared BPE training loop: returns (merge table, final per-word
    * symbol arrays — left persisted; the caller owns their release). */
  private def bpeTrain(docs: DataFrame,
                       numMerges: Int): (DataFrame, DataFrame) = Staged.run { stage =>
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    val wf = stage(docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("freq")))
    // chars as initial symbols, via the same substring indexing the twin
    // uses (tokens are [a-z0-9]+ — single-byte, so substr == char)
    var syms = wf.select(col("word"), col("freq"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    // two-deep unpersist window: each round's argmax materializes the
    // CURRENT symbol table, at which point the PREVIOUS one can go —
    // no per-round count() barrier jobs
    var prev: DataFrame = null
    while (r < numMerges && !exhausted) {
      val best = syms
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("w"))
        .orderBy(col("w").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (prev != null) { prev.unpersist(false); prev = null }
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, w) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, w))
        // leftmost-greedy merge fold — symbols are [a-z0-9]+ substrings,
        // safe to inline as SQL literals
        val next = syms.select(col("word"), col("freq"),
          expr(s"aggregate(syms, cast(array() AS array<string>), (acc, x) -> " +
            s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b' " +
            s"THEN concat(slice(acc, 1, size(acc) - 1), array('$a$b')) " +
            s"ELSE concat(acc, array(x)) END)").as("syms"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        prev = syms
        syms = next
        r += 1
      }
    }
    // force the final table once, then release its parent
    syms.count()
    if (prev != null) prev.unpersist(false)
    import spark.implicits._
    val mergeDf = merges.toSeq
      .toDF("merge_rank", "lhs", "rhs", "weight")
      .select(col("merge_rank").cast("long"), col("lhs"), col("rhs"),
        col("weight").cast("long"))
    (mergeDf, syms)
  }

  /** Supervised-style hashed-feature language classifier — the trained
    * counterpart of the heuristic [[langId]]. Training: per-bucket
    * majority label over hashed token features (md5 word 1 mod `buckets`
    * — the same portable hashing-trick cell as [[hashEmbed]]) on the
    * deterministic train split (doc_id % 10 < 8). Inference: each
    * held-out document's tokens vote their bucket's label; majority
    * wins. All integer arithmetic — counts and argmax with
    * (count desc, label asc) tie-breaks — so the DuckDB twin replays it
    * bit-for-bit; no float log-likelihoods to diverge on near-ties.
    * Returns the holdout confusion matrix (lang, predicted, n).
    *
    * Scale: one shuffle on (bucket, lang) for the profile (map-side
    * partials collapse the token stream to ≤ buckets×|langs| rows), the
    * learned table is ≤ `buckets` rows and BROADCAST to the vote join,
    * and votes shuffle on doc_id — nothing all-pairs, nothing
    * driver-side. Both argmax windows partition on high-cardinality
    * keys (bucket / doc_id), never a global sort. */
  def langIdTrained(docs: DataFrame, buckets: Int = 1024): DataFrame =
    trainedTokenClassifier(
      docs.select(col("doc_id"), col("text"), col("lang")), "lang", buckets)

  /** The token→bucket hashing-trick cell shared by the trained
    * classifiers and the streaming model filter — md5 word 1 mod
    * `buckets`, the same portable hash as [[hashEmbed]]. */
  private[graft] def tokenBucket(tok: Column, buckets: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % buckets

  /** The learned model table of the hashed-feature majority classifier:
    * per-bucket majority label over the deterministic train split
    * (doc_id % 10 < 8), (count desc, label asc) tie-breaks. ≤ `buckets`
    * rows — small enough to broadcast into a batch vote join or to
    * ship as a plan literal into a STREAMING stateless projection
    * ([[graft.streaming.EventStream]].modelFilterStream). */
  private[graft] def bucketProfile(labeled: DataFrame, labelCol: String,
                                   buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    labeled
      .select(col("doc_id"), col(labelCol), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col(labelCol), tokenBucket(col("tok"), buckets).as("b"))
      .where(col("doc_id") % 10 < 8)
      .groupBy(col("b"), col(labelCol)).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("c").desc, col(labelCol).asc)))
      .where(col("rn") === 1)
      .select(col("b"), col(labelCol).as("plab"))
  }

  /** Per-doc holdout predictions of the majority classifier —
    * (doc_id, <labelCol>, plab): bucket-vote argmax with (count desc,
    * label asc) tie-breaks; the confusion matrix and the streaming
    * parity spec both read this surface. */
  private[graft] def classifierPredictions(labeled: DataFrame, labelCol: String,
                                           buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feat = labeled
      .select(col("doc_id"), col(labelCol), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col(labelCol), tokenBucket(col("tok"), buckets).as("b"))
    val votes = feat.where(col("doc_id") % 10 >= 8)
      .join(broadcast(bucketProfile(labeled, labelCol, buckets)), Seq("b"))
      .groupBy(col("doc_id"), col(labelCol), col("plab"))
      .agg(count(lit(1)).as("v"))
    votes
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("v").desc, col("plab").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), col(labelCol), col("plab"))
  }

  /** The shared hashed-feature majority trainer behind [[langIdTrained]]
    * and [[qualityClassifier]]: `labeled` must carry (doc_id, text,
    * <labelCol>). Per-bucket majority label on the deterministic train
    * split (doc_id % 10 < 8), bucket-vote argmax on the holdout,
    * confusion matrix (labelCol, predicted, n) out. All integer counts
    * with (count desc, label asc) tie-breaks — engine-exact. */
  private def trainedTokenClassifier(labeled: DataFrame, labelCol: String,
                                     buckets: Int): DataFrame =
    classifierPredictions(labeled, labelCol, buckets)
      .groupBy(col(labelCol), col("plab").as("predicted"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** Model-based quality filter — the TRAINED tier every modern curation
    * stack runs above the heuristic rules ([[qualityScores]] /
    * [[gopherRepetition]] are the rule tier; CCNet/Gopher/LLaMA train a
    * classifier on quality labels and filter by its verdict). Labels
    * come from [[qualityTiers]] (CCNet-style head/middle/tail by
    * integer LM plausibility — itself engine-exact), features are the
    * [[langIdTrained]] hashed-token buckets, training is the per-bucket
    * majority on the deterministic doc_id%10<8 split. Returns the
    * holdout confusion matrix (tier, predicted, n) — the calibration
    * artifact a production pipeline thresholds on before applying the
    * model as a filter. Scale shape inherited from the two parents: one
    * (bucket, label) shuffle + a broadcast model table + one doc-keyed
    * vote shuffle; the label pass adds qualityTiers' token-count
    * shuffle. Nothing all-pairs, nothing driver-side. */
  def qualityClassifier(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val labels = qualityTiers(docs).select(col("doc_id"), col("tier"))
    trainedTokenClassifier(
      docs.select(col("doc_id"), col("text")).join(labels, "doc_id"),
      "tier", buckets)
  }
}
