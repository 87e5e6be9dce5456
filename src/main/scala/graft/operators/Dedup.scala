package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.Lineage.CutOps
import graft.functions.TextOps

/** Deduplication operators over `documents` — the four standard tiers of a
  * training-data pipeline:
  *
  *  1. exact (hash groupBy)                → q44
  *  2. n-gram Jaccard, all-pairs verify    → q45 (oracle-checked)
  *  3. MinHash + banded LSH                → q46 (candidate generation that
  *     replaces the O(n²) pair join with a bucket shuffle — the 100 TB path)
  *  4. SimHash (bitwise near-dup sketch)   → q47
  *
  * Scale notes: q45's all-pairs join is intentionally the *verification*
  * baseline; the LSH pipeline (q46) generates candidates via
  * `groupBy(band, signature)` — cost O(n·bands) shuffle rows, each bucket
  * bounded by the duplicate-cluster size, then exact Jaccard only on
  * candidates. SimHash reduces a document to one BIGINT, so near-dup
  * detection becomes a cheap equi/bit join. Hash functions are Spark's
  * xxhash64 — deterministic across executors and runs by construction.
  */
object Dedup {

  private val ShingleN = 3

  /** Salt fan of the q104 document-frequency census: a hot shingle's
    * occurrences spread over this many (tok, salt) partitions instead of
    * funneling into one window partition. 16 bounds any single key's share
    * of the census work at 1/16 of its row count per task while keeping
    * the census fan-out (vocab × salt partial rows) cheap. */
  private val CensusSalt = 16
  private val MinhashK = 32 // 16 bands × 2 rows
  private val Bands = 16
  private val RowsPerBand = 2

  /** doc_id + distinct 3-gram shingle set (drops docs too short to shingle). */
  def withShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingles(col("text"), ShingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact Jaccard over shingle sets as (intersection, union) integer
    * sizes — the REFERENCE spelling (Spark's own set expressions). Hot
    * verification joins use [[jaccardColsSorted]] instead: over string
    * arrays these run an interpreted hash-set build per evaluation (Spark
    * specializes their codegen sets for primitive types only), which
    * dominated both verify tiers at pair cardinality (SCALING.md §R11).
    * DedupSpec pins the two spellings equal on real shingle sets. */
  def jaccardCols(a: Column, b: Column): (Column, Column) =
    (size(array_intersect(a, b)), size(array_union(a, b)))

  /** [[jaccardCols]] for PRE-SORTED distinct shingle arrays: one codegen
    * merge per pair ([[graft.expressions.SortedInterSizeExpr]]), union by
    * |A|+|B|−|A∩B| (exact — the arrays are distinct). Callers sort at the
    * DOCUMENT projection (`array_sort`, corpus-proportional) so the
    * pair-cardinality evaluations pay a linear merge, not a hash build. */
  def jaccardColsSorted(a: Column, b: Column): (Column, Column) = {
    val inter = graft.expressions.SortedInterSizeExpr.interSize(a, b)
    (inter, size(a) + size(b) - inter)
  }

  /** Prefix-filtered EXACT set-similarity self-join — the All-Pairs /
    * PPJoin candidate scheme (Bayardo et al., WWW'07; Chaudhuri et al.,
    * ICDE'06): the third way between q45's O(n²) brute force (exact but
    * capped) and q46's LSH (scales but probabilistic). Exact AND scalable:
    *
    *  1. order every doc's shingle set by GLOBAL rarity — ascending
    *     document frequency, ties broken by the shingle string, so the
    *     total order is identical on every executor;
    *  2. keep each doc's PREFIX of its p = n − ⌈t·n⌉ + 1 rarest shingles.
    *     If J(x,y) ≥ t then |x∩y| ≥ ⌈t·max(nx,ny)⌉, and the rarest common
    *     shingle sits within the first nᵢ − |x∩y| + 1 ≤ pᵢ positions of
    *     BOTH ordered sets — so every qualifying pair shares a prefix
    *     token and survives candidate generation (no misses, by theorem,
    *     not by probability — the uncapped brute-force oracle checks
    *     exactly this);
    *  3. equi-join prefixes against the FULL token stream (+ the
    *     |min|·tDen ≥ |max|·tNum length filter, which J ≥ t implies),
    *     count per pair the distinct shared tokens in either prefix, and
    *     keep only pairs whose EXACT overlap upper bound
    *     (cpf + min suffix length, capped by min set size) can still clear
    *     the threshold — a lossless, 16-byte-row candidate filter (r10;
    *     see the body comment for the measured cliff it closes); then
    *     verify exact Jaccard on the survivors with the same integer
    *     inter·tDen ≥ uni·tNum test as q45 — no float crosses an engine.
    *
    * Shape at 100 TB: ONE corpus scan, ONE shingle evaluation, NO window
    * over the raw shingle stream.
    *  - The document-frequency census is a SALTED two-level aggregate off
    *    one shared `repartition(tok, salt)` exchange (salt = hash(doc_id)
    *    mod [[CensusSalt]]): `groupBy(tok, salt)` partial counts (no new
    *    exchange — tok×salt partitioning satisfies the grouping), summed
    *    per tok over a partial-row stream bounded by salt × vocabulary,
    *    then joined back on `(tok, salt)` with the census fanned ×salt —
    *    so a globally-hot boilerplate shingle spreads its occurrences over
    *    [[CensusSalt]] tasks in BOTH the census and the join-back. The
    *    previous spelling (`count(*) OVER (PARTITION BY tok)`) funneled
    *    every occurrence of a hot shingle into ONE window partition with
    *    no partial aggregation — invisible at gate scale, a straggler on a
    *    crawl with mass boilerplate (the q89 hot-key hazard).
    *  - Why the join-back does not re-introduce the double scan the window
    *    was chosen to avoid: the census partial agg counts `count(doc_id)`
    *    — NOT `count(*)` — so column pruning keeps (doc_id, tok, salt)
    *    below the exchange on BOTH branches, the two exchange subtrees
    *    stay canonically EQUAL, and AQE stage reuse resolves the second
    *    consumer to a ReusedExchange (PlanSpec pins 1 FileScan on the
    *    finalized plan). With `count(*)` the census branch prunes doc_id
    *    and the corpus is scanned + shingled twice — the original q104
    *    hazard, now documented from both directions.
    *  - The shingle projection feeds `explode_outer` + a post-generate
    *    null filter, NOT a plain explode: a non-outer generator carries an
    *    implicit non-empty guard that Catalyst rewrites through the
    *    projection INTO THE SCAN, re-evaluating the full shingle
    *    expression per document inside the scan's DataFilters (the q79
    *    generator-guard hazard; observed here before the fix).
    *  - The per-doc rarity sort lands in an explicit repartition(doc_id)
    *    exchange shared by BOTH sides of the prefix self-join AND both
    *    verification joins (ReusedExchange at runtime — the same
    *    load-bearing-exchange design as minhashLshPairs, which measured
    *    13.7 s → 4.9 s from it; without explicit exchanges this plan
    *    re-scanned the corpus 12×).
    * The prefix equi-join's fan-in per shingle is bounded by construction:
    * a shingle enters prefixes only for docs where it ranks among the
    * (1−t)·n rarest, so globally-hot boilerplate shingles are exactly the
    * ones EXCLUDED from most prefixes (the inverse of q46's hot-bucket
    * problem; a capBuckets-style guard applies if a boilerplate cluster
    * shares rare shingles). Verification re-reads the rarity-ordered
    * `toks` arrays by id AFTER distinct-ing candidates — Jaccard is
    * order-independent, so no re-shingling, and full arrays never ride the
    * prefix-explode fan-out.
    *
    * IDENTITY COLLAPSE (round 9, from a measured cliff): byte-identical
    * texts are collapsed to ONE representative before any shingling, and
    * the verified representative pairs are expanded back over the members
    * at the end. Without this, verification cost is O(true pairs × doc
    * size): each candidate pair carries BOTH full shingle arrays through a
    * shuffle join, and in a duplicate-heavy regime true pairs grow
    * quadratically in the duplication factor — the 64× identical-copy
    * probe (AnnScale) died DISK-FULL from ~hundreds of GB of sort-merge
    * spill (11.1M pairs × two full arrays), while 16× completed in 85 s.
    * After the collapse the array-carrying joins see only REPRESENTATIVE
    * pairs (invariant in the duplication factor); member pairs are
    * recovered by two narrow-row joins (8-byte ids), so the quadratic
    * output is paid only at its information cost. Correctness is exact:
    * J(x, y) = J(rep(x), rep(y)) because equal text ⇒ equal shingle set,
    * and within a group J = 1 ≥ t always (tDen > tNum), with
    * inter = uni = |shingles(rep)|. Docs too short to shingle never enter
    * `ordered`, so the identity path's inner join on rep sizes excludes
    * their groups exactly as the un-collapsed pipeline did.
    *
    * DENSE-REGIME TIERS (r12 directive 4). The DEFAULT verify stage ships
    * shingle arrays at CANDIDATE-pair cardinality, and in honest regimes
    * candidates track true pairs — so its scratch cost is
    * output-proportional no matter how sharp the count filter is.
    * Measured: 64× = 11.0M pairs, 177–186 s; 128× = 44.5M pairs, 663 s,
    * ~44 GB peak scratch; 256× = 178.7M true pairs, KILLED at ~74 GB
    * scratch still climbing (the same 256× death the default minhash tier
    * measured in r11). Past true pairs ≈ 5×10⁷ (≈ half the local scratch
    * budget) set `bucketLocalVerify = true`: each doc's shingle set
    * replicates into its PREFIX-HASH buckets (shuffle ∝ corpus × prefix
    * length, independent of pair count — the [[minhashLshPairs]]
    * bucket-local construction with prefix tokens as the bucket keys) and
    * pairs verify IN the bucket of the first hash in the LOWER-doc_id
    * side's rarity-ordered prefix that also occurs in the other doc's
    * prefix
    * ([[graft.expressions.FirstSharedPrefixExpr]] — exactly once, no
    * distinct). Unlike the minhash hand-off this tier is still EXACT:
    * completeness is the same prefix theorem (a qualifying pair shares a
    * both-prefix token, hence a both-prefix hash a fortiori — hash
    * equality can only ADD meeting buckets, and the exact string
    * verification decides every pair), so the dense regime no longer
    * costs banding miss. [[minhashLshPairs]]`(bucketLocalVerify = true)`
    * remains the cheaper choice when a [[bandingFor]]-sized miss budget
    * is acceptable (16 buckets/doc vs prefix's ≈ (1−t)·n + 1). The
    * default tier remains the low-replication choice at sparse pair
    * densities; both tiers anchor the recall ladders (BandingScale) and
    * the LSH equality specs. r13 closure: the bucket-local tier
    * COMPLETES the 256× rung the default dies on — 1,982.7 s, disk
    * transient 46 GB fully drained, 178,676,206 pairs — a strict
    * superset of the bucket-local minhash tier's 178,676,204 (the 2
    * extra are the ladder's first measured banding misses, 1.1×10⁻⁸ of
    * true pairs at 16×2 banding; spurious = 0 at every rung). SCALING
    * §R13 has the ladder; the mega-family boundary is documented on
    * [[prefixBucketLocalCore]]. */
  def prefixJaccardPairs(docs: DataFrame, tNum: Int, tDen: Int,
      bucketLocalVerify: Boolean = false): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"need 0 < t < 1, got $tNum/$tDen")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // ---- identity collapse: one repartition(text) exchange feeds BOTH the
    // representative census (groupBy needs no new exchange — the
    // partitioning satisfies it) and the member→rep join-back, which the
    // merge hint keeps on the exchange it already sits on (a broadcast of
    // the rep census would be corpus-sized). Both consumers read
    // (doc_id, text), so the canonical subtrees stay EQUAL and AQE resolves
    // the second to a ReusedExchange — the same load-bearing-exchange
    // discipline as the census below. min() partial-aggregates map-side,
    // so a text duplicated a billion times is a non-event here.
    // text.isNotNull is HOISTED into the shared subtree: the inner join on
    // text infers it on the join-back branch only, which would push it
    // below the exchange on one side and split the canonical subtree (the
    // per-branch-filter hazard) — with it in the base, both branches match.
    // Null-text docs produce no shingles and no pairs either way.
    val byText = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .repartition(par, col("text"))
    val reps = byText.groupBy(col("text")).agg(min(col("doc_id")).as("rep_id"))
    val mapping = byText.join(reps.hint("merge"), Seq("text"))
      .select(col("doc_id"), col("rep_id"))
    // the NON-NULLABLE salt spelling (bitwiseAND, not pmod — Pmod declares
    // nullable=true and the candidate join would then infer an
    // isnotnull(salt-expr) filter on the join-back branch ONLY, pushing it
    // below the shared exchange and splitting the canonical subtree — the
    // CLAUDE.md per-branch-filter hazard, observed here as a second corpus
    // scan before this spelling). No fanOut: the text exchange already
    // spreads the shingle projection across the session's parallelism.
    // doc_id.isNotNull is HOISTED here for the same reason as text's above
    // (r13): the rep id is min()-typed nullable, and the verification
    // joins on doc_id downstream infer isnotnull(doc_id) on the STREAM
    // branch only — pushed below the shared (tok, salt) exchange, it made
    // the census and stream subtrees canonically unequal, so the exchange
    // materialized twice and the SHINGLE PASS RAN TWICE (the one-scan
    // PlanSpec pin can't see it: both copies sit above the reused text
    // exchange). With the filter in the shared lineage both branches
    // match; the inferred copy is then implied by constraints and not
    // re-added.
    val toks = reps.select(col("rep_id").as("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), TextOps.shingles(col("text"), ShingleN).as("sh"))
      .select(col("doc_id"), explode_outer(col("sh")).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("salt",
        xxhash64(col("doc_id")).bitwiseAND(lit(CensusSalt - 1L)).cast("int"))
      .repartition(par, col("tok"), col("salt"))
    // count(doc_id), not count(*): keeps doc_id below the exchange so both
    // census and join-back branches share ONE canonical subtree (scaladoc)
    val census = toks.groupBy(col("tok"), col("salt"))
      .agg(count(col("doc_id")).as("pc"))
      .groupBy(col("tok")).agg(sum(col("pc")).as("df"))
    // the fanned census is vocabulary × salt rows — corpus-proportional, so
    // it must NEVER broadcast (the driver OOMs the moment the vocabulary is
    // real; observed at 500k docs). The merge hint pins a shuffle join whose
    // stream side reuses the (tok, salt) exchange it is already sitting on.
    val censusFan = census.select(col("tok"), col("df"),
      explode(sequence(lit(0), lit(CensusSalt - 1)).cast("array<int>")).as("salt"))
      .hint("merge")
    val ordered = toks
      .join(censusFan, Seq("tok", "salt"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        t => t.getField("tok")).as("toks"))
      .repartition(par, col("doc_id"))
    val n = size(col("toks"))
    // integer ceil: ⌈tNum·n/tDen⌉ = (tNum·n + tDen − 1) div tDen
    val p = (n - floor((n * tNum + (tDen - 1)) / lit(tDen)) + 1).cast("int")
    // ---- COUNT-FILTERED candidate generation (r10, from a measured cliff).
    // The plain prefix×prefix join is lossless but, in the honest near-dup
    // regime (every doc has textually DISTINCT near-twins), barely
    // selective: twins share their rare shingles, so EVERY moderately
    // similar base pair fans into r² candidates — NearDupScale measured
    // 11.06M candidates for 656k verified pairs at 16× (94% rejects), and
    // at 64× the 176M candidates each carrying two full string arrays
    // through the verification exchanges spilled past the disk watchdog
    // (~490 GB raw). q46's LSH survived the same corpus (112 s) because
    // banding's collision rate is similarity-weighted; the prefix filter
    // admits any pair sharing ONE rare shingle.
    // Fix: verify NOTHING until a narrow COUNT filter has run. Join the
    // prefix stream against the FULL token stream (both directions), count
    // per pair the distinct shared tokens lying in EITHER prefix (cpf) —
    // exactly |{t ∈ A∩B : t ∈ prefix_A ∪ prefix_B}| — and bound
    //   inter = cpf + |suffix_A ∩ suffix_B| ≤ cpf + min(n_a−p_a, n_b−p_b),
    // capped by min(n_a, n_b). Rejecting pairs whose BOUND already fails
    // inter·tDen ≥ (n_a+n_b−inter)·tNum is lossless by the same algebra as
    // the prefix theorem (the bound only over-estimates), kills the
    // moderate cross-family bulk AND the short in-family pairs on 16-byte
    // rows, and the exact array verification below runs only on survivors
    // (≈ true pairs plus a thin boundary band). Completeness is unchanged:
    // a qualifying pair shares a both-prefix token, which the prefix×full
    // join emits a fortiori. The full-token side carries globally-hot
    // boilerplate shingles into the tok shuffle, but the PREFIX side still
    // bounds the join fan (hot shingles rank last and enter no prefix —
    // the q89 500k-doc spec pins this), so hot-tok rows match nothing.
    // Cost at 100 TB: one extra narrow shuffle of all token occurrences
    // (16-byte rows, same order of volume as the census exchange this
    // pipeline already pays) — traded against array payloads at candidate
    // cardinality, which are quadratic in near-dup density.
    val core = if (bucketLocalVerify) prefixBucketLocalCore(ordered, tNum, tDen)
    else {
    val prefixes = ordered.select(col("doc_id"), n.as("n"), p.as("p"),
      explode(slice(col("toks"), lit(1), p)).as("tok"))
    val fulls = ordered.select(col("doc_id"), n.as("n"), p.as("p"),
      explode(col("toks")).as("tok"))
    val shared = prefixes.as("a").join(fulls.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * tNum <=
            least(col("a.n"), col("b.n")) * tDen)
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"),
        col("a.tok").as("tok"),
        // symmetric carries: the bound needs only order-free scalars
        (col("a.n") + col("b.n")).as("nsum"),
        least(col("a.n"), col("b.n")).as("nmin"),
        least(col("a.n") - col("a.p"), col("b.n") - col("b.p")).as("smin"))
    // a token in BOTH prefixes is emitted by both directions — count
    // distinct (pair, tok) rows; two-level agg keeps it partial-combinable
    val cands = shared
      .groupBy(col("a_id"), col("b_id"), col("tok"))
      .agg(max(col("nsum")).as("nsum"), max(col("nmin")).as("nmin"),
        max(col("smin")).as("smin"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("cpf"), max(col("nsum")).as("nsum"),
        max(col("nmin")).as("nmin"), max(col("smin")).as("smin"))
      .withColumn("bound", least(col("cpf") + col("smin"), col("nmin")))
      .filter(col("bound") * tDen >= (col("nsum") - col("bound")) * tNum)
      .select(col("a_id"), col("b_id"))
    val (inter, uni) = jaccardColsSorted(col("a_sh"), col("b_sh"))
    // verified REPRESENTATIVE pairs — the only frame where full arrays ride
    // a pair-cardinality join, now bounded by the count filter's survivors.
    // `toks` is RARITY-ordered (the prefix scheme's order); the verify
    // copies re-sort lexicographically per DOC so each pair evaluation is
    // the codegen merge, not an interpreted hash build.
    cands
      .join(ordered.select(col("doc_id").as("a_id"),
        array_sort(col("toks")).as("a_sh")), "a_id")
      .join(ordered.select(col("doc_id").as("b_id"),
        array_sort(col("toks")).as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"), inter.as("inter"), uni.as("uni"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
    }
    // ---- expansion back to member pairs: narrow 8-byte-id joins only.
    // Cross pairs (different reps) hit each (x, y) exactly once — members
    // of distinct groups are disjoint — but member ids are not ordered by
    // rep order, hence least/greatest. Identity pairs (same rep) carry
    // inter = uni = |shingles(rep)|; the inner join on `ordered` sizes
    // drops groups too short to shingle, matching the oracle's len(t) >= 3.
    val ma = mapping.select(col("doc_id").as("xa"), col("rep_id").as("ra"))
    val mb = mapping.select(col("doc_id").as("xb"), col("rep_id").as("rb"))
    val cross = core
      .join(ma, col("a_id") === col("ra"))
      .join(mb, col("b_id") === col("rb"))
      .select(least(col("xa"), col("xb")).as("a_id"),
        greatest(col("xa"), col("xb")).as("b_id"), col("inter"), col("uni"))
    val repN = ordered.select(col("doc_id").as("rn_id"), size(col("toks")).as("nsz"))
    val ident = ma.join(mb, col("ra") === col("rb") && col("xa") < col("xb"))
      .join(repN, col("ra") === col("rn_id"))
      .select(col("xa").as("a_id"), col("xb").as("b_id"),
        col("nsz").as("inter"), col("nsz").as("uni"))
    cross.unionByName(ident)
  }

  /** Bucket-local verification core for [[prefixJaccardPairs]] (r12): the
    * [[bucketLocalVerified]] construction with PREFIX-HASH buckets instead
    * of minhash bands — ONE shuffle ∝ corpus × prefix length, never
    * pair-proportional array payloads, and still EXACT.
    *
    *  - Each rep doc carries its rarity-ordered prefix hashes `ph`
    *    (xxhash64 of the p rarest shingles, first-occurrence-deduped so a
    *    hash collision inside one prefix cannot double-emit) and its
    *    lex-sorted shingle strings `sh`, and explodes one bucket row per
    *    prefix hash.
    *  - Candidates meet in every shared prefix-hash bucket; the pair is
    *    evaluated exactly once, in the bucket elected by
    *    [[graft.expressions.FirstSharedPrefixExpr]] (the first hash in the
    *    lower-doc_id side's prefix order that occurs in the other doc's
    *    prefix — any deterministic side works; the call site passes the
    *    `doc_id <` side's ph/hk —
    *    sharedness BY HASH, the same predicate as bucket membership, so
    *    collisions add evaluations but never lose or duplicate a pair).
    *  - Completeness is the prefix theorem unchanged: J ≥ t ⇒ the pair
    *    shares a both-prefix token ⇒ shares that token's hash bucket.
    *  - The exact Jaccard threshold runs in a pushdown-BLOCKED projection
    *    ABOVE the join, once per candidate pair — never per bucket combo
    *    (see the body comment: the join condition must stay array-free or
    *    the shingle payloads ride the Σ occ² fan).
    *
    * The kernel is symmetric in column usage (both sides contribute
    * doc_id, n, ph, sh, hk), so the self-join's two branches prune
    * identically and share one exchange (PlanSpec pins scan parity with
    * the default tier). No hot-bucket cap: prefix buckets are smallest for
    * exactly the rarest shingles (the scheme's own selectivity), and the
    * operator's contract is exactness — boilerplate-cluster regimes that
    * need shedding belong to [[minhashLshPairs]]'s capped tiers.
    *
    * MEGA-FAMILY BOUNDARY (measured r13, NearDupScale q104blmega): a
    * 10k-member DISTINCT-text near-identical family (byte-identical
    * families are absorbed by the identity collapse; distinct variants —
    * boilerplate with per-page noise — are not) COMPLETES, disk-flat,
    * but not balanced: every family pair shares the same first-shared
    * base hash, so the exactly-once election funnels all C(10k,2) ≈
    * 5×10⁷ surviving verifications into ONE bucket = one task (64× rung:
    * 810.0 s wall with 764.9 s in that task, siblings' mean 174.9 s; the
    * ~16 other shared buckets' 10⁸-combo REJECTIONS spread fine — the
    * fan is not the funnel, the elected verify is). The wall therefore
    * grows quadratically in the largest distinct-variant family and is
    * single-task-bound past ~10⁴ members: when a corpus carries such
    * clusters and their pairs are not individually needed, hand off to
    * [[minhashLshPairs]]`(maxBucket = …, bucketLocalVerify = true)` —
    * the capped tier sheds exactly those buckets under the documented
    * census contract; this tier stays the exact instrument. */
  private def prefixBucketLocalCore(ordered: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    val n = size(col("toks"))
    val p = (n - floor((n * tNum + (tDen - 1)) / lit(tDen)) + 1).cast("int")
    val perDoc = ordered.select(col("doc_id"), n.as("n"),
      array_distinct(transform(slice(col("toks"), lit(1), p),
        x => xxhash64(x))).as("ph"),
      array_sort(array_distinct(transform(col("toks"),
        x => xxhash64(x)))).as("fh"),
      array_sort(col("toks")).as("sh"))
      .select(col("doc_id"), col("n"), col("ph"),
        array_sort(col("ph")).as("ps"), col("fh"), col("sh"))
    // explode_outer: ph is never empty (every doc in `ordered` has ≥ 1
    // shingle, so p ≥ 1) — the inner generator's implicit non-empty guard
    // would push below the shared exchange on one branch and split it
    // (the q79 guard hazard, as in bucketLocalVerified)
    val bsh = perDoc.select(col("doc_id"), col("n"), col("ph"), col("ps"),
      col("fh"), col("sh"), explode_outer(col("ph")).as("hk"))
    val canonical = graft.expressions.FirstSharedPrefixExpr
      .isFirstShared(col("a.ph"), col("b.ph"), col("a.hk"))
    // The Jaccard threshold lives in a PROJECTION + blocked filter ABOVE
    // the join, NOT in the join condition — the r11 conjunct rule, refined
    // by this tier's own measurement (Prof104BL, SCALING §R12): SMJ codegen
    // splits variable extraction by condition — columns the CONDITION
    // references are extracted for EVERY key-matched combo (Σ occ², 19.6G
    // at the 256× rung), columns only the OUTPUT references are extracted
    // once per surviving match. With the threshold as a conjunct the 2 KB
    // shingle arrays rode the combo fan (measured 20 µs/combo,
    // memory-bandwidth-bound, 64× = 1,332 s); with a thin condition
    // (hk/doc_id/n/ph — ~120 B) the fan traverses at ~40 ns/combo and the
    // arrays are touched once per candidate pair. The minhash tier keeps
    // its threshold in the condition because banding's fan is
    // similarity-weighted (combos ≈ pairs); the prefix fan is not.
    // The `_mid` guard makes the filter UNPUSHABLE: a bare filter above a
    // join is merged into the condition at a position of the optimizer's
    // choosing (the r11 lesson), which would re-fatten the combo fan. A
    // non-deterministic projection column referenced by the filter's one
    // un-splittable OR disjunct (monotonically_increasing_id() ≥ 0 always,
    // so `|| _mid < 0` is an identity) pins the filter above the project
    // (PlanSpec asserts the join condition stays array-free).
    val cand = bsh.as("a").join(bsh.as("b"),
        col("a.hk") === col("b.hk") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * tNum <=
            least(col("a.n"), col("b.n")) * tDen &&
          canonical)
    // ---- stage 1: the r10 COUNT-FILTER bound, in-bucket, on HASHES.
    // Candidates (pairs sharing ≥ 1 prefix hash) are barely selective in
    // the honest regime (176M candidates for 11M pairs at 64× — the r10
    // measurement), so the string merge must not run per candidate. The
    // bound needs only hash intersections over ~400 B sorted long arrays
    // (the codegen SortedLongInterSizeExpr, zero allocation):
    //   cpf ≤ |psA ∩ fhB| + |psB ∩ fhA| − |psA ∩ psB|
    //   inter ≤ min(cpf + min(nA − |phA|, nB − |phB|), min(nA, nB))
    // LOSSLESS: every hash-collision effect errs UPWARD — a spurious
    // match in the Z = |psA ∩ psB| term is accompanied by spurious X and
    // Y units (the colliding prefix hashes are in both full sets), so
    // X + Y − Z never undercounts the true cpf; |ph| ≤ p (dedup) makes
    // n − |ph| over-estimate the suffix; and fh shrinking under in-doc
    // collisions only raises the intersections. The exact string merge
    // (stage 2) runs only on bound survivors ≈ true pairs.
    val cpfH = graft.expressions.SortedLongInterSizeExpr.interSize(
        col("psA"), col("fhB")) +
      graft.expressions.SortedLongInterSizeExpr.interSize(
        col("psB"), col("fhA")) -
      graft.expressions.SortedLongInterSizeExpr.interSize(
        col("psA"), col("psB"))
    val bound = least(
      col("cpf") + least(col("na") - col("pa"), col("nb") - col("pb")),
      least(col("na"), col("nb")))
    val stage1 = cand
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"),
        size(col("a.ph")).as("pa"), size(col("b.ph")).as("pb"),
        col("a.ps").as("psA"), col("b.ps").as("psB"),
        col("a.fh").as("fhA"), col("b.fh").as("fhB"),
        col("a.sh").as("shA"), col("b.sh").as("shB"),
        monotonically_increasing_id().as("_mid"))
      .withColumn("cpf", cpfH)
      // bound·tDen ≥ (na + nb − bound)·tNum, OR-guarded on the
      // non-deterministic _mid so the filter cannot merge into the join
      // condition (it never fires: monotonically_increasing_id ≥ 0)
      .filter(bound * (tDen + tNum) >= (col("na") + col("nb")) * tNum ||
        col("_mid") < 0)
    // ---- stage 2: exact string evidence on survivors only
    val inter1 = graft.expressions.SortedInterSizeExpr.interSize(
      col("shA"), col("shB"))
    stage1
      .select(col("a_id"), col("b_id"), inter1.as("inter"),
        (size(col("shA")) + size(col("shB"))).as("ssum"), col("_mid"))
      // inter·tDen ≥ (ssum − inter)·tNum ⟺ inter·(tDen + tNum) ≥ ssum·tNum
      .filter(col("inter") * (tDen + tNum) >= col("ssum") * tNum ||
        col("_mid") < 0)
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("ssum") - col("inter")).as("uni"))
  }

  /** Fan a few-split source out across the session's parallelism BEFORE an
    * expensive row-local projection. A gate-scale corpus is ONE small
    * parquet file = one input split, so without this every stage above the
    * scan — signature computation, candidate shingling — runs as a single
    * task while 31 cores idle, and a single-thread critical path is
    * maximally exposed to host CPU starvation (measured: the same q46 plan
    * swings 2.4 s → 134 s when the one busy vCPU is contended). At 100 TB
    * the scan has thousands of splits and this is a no-op — the guard
    * keeps the extra exchange a small-input-only cost. */
  private[operators] def fanOut(df: DataFrame, gauge: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // `gauge` is the frame whose partition count decides, and it must be a
    // RAW SCAN (`.rdd` on a scan only lists files) — NOT `df` itself: at
    // the verification call sites df contains a broadcast join, and
    // `.rdd.getNumPartitions` under AQE materializes every query stage
    // beneath it, executing the whole candidate pipeline once for the
    // count and again for the real action. The broadcast join preserves
    // its stream side's partitioning, so gauging the bare scan makes the
    // identical decision for free.
    // the partition count is EXPLICIT: a bare repartition(col) exchange is
    // AQE-coalescible, and AQE — seeing only the exchange's tiny byte size,
    // not the cost of the projection above it — folds it back to one
    // partition, recreating exactly the single-task stage this exists to
    // break up (observed in thread dumps: stage with 1 task, 31 idle cores)
    if (gauge.rdd.getNumPartitions >= par) df
    else df.repartition(par, col("doc_id"))
  }

  /** (band, signature) bucket memberships for a corpus — the shared LSH
    * candidate-generation front end of [[minhashLshPairs]] (self-join) and
    * [[fuzzyReferenceDedup]] (cross-corpus join). The repartition
    * materializes signatures through one reusable exchange (see
    * minhashLshPairs scaladoc, step 1). */
  private def bandBuckets(docs: DataFrame, maxBucket: Int,
      prespread: Boolean = false,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val sig = minhashSignatures(docs, prespread, bands, rowsPerBand)
    // band signatures index the ms array directly — no 32-column expansion
    // (same xxhash64 over the same longs, less codegen per stage)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          element_at(col("ms"), b * rowsPerBand + r + 1)): _*).as("sig"))
    }
    capBuckets(sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.sig").as("sig")),
      maxBucket)
  }

  /** (doc_id, ms) minhash signature table, materialized through a doc_id
    * exchange — the shared front half of [[bandBuckets]] and the
    * bucket-local verify tier. */
  private def minhashSignatures(docs: DataFrame, prespread: Boolean,
      bands: Int, rowsPerBand: Int): DataFrame = {
    // prespread: the caller's frame already sits above a multi-partition
    // exchange (e.g. the identity-collapse census), so fanOut is both
    // unnecessary AND unsafe to gauge — `.rdd` on a derived frame under
    // AQE materializes every stage beneath it (the CLAUDE.md probe hazard)
    val base = docs.select(col("doc_id"), col("text"))
    val toks = (if (prespread) base else fanOut(base, gauge = docs))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= ShingleN)
    // arrayXxhash64, not transform(t, xxhash64): the transform layer is
    // CodegenFallback and evicted this whole signature aggregate from
    // whole-stage codegen (r13; bit-equal kernel, MinHashSigSpec pins it)
    toks
      .select(col("doc_id"),
        graft.expressions.MinHashSigExpr.minhashSig(
          graft.expressions.ArrayXxhash64Expr.arrayXxhash64(col("t")),
          bands * rowsPerBand).as("ms"))
      // explicit partition count: AQE would coalesce this (tiny) exchange to
      // one partition and single-thread the band join above it — see fanOut
      .repartition(toks.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
  }

  /** Apply the hot-bucket cap to a (doc_id, band, sig) bucket table via an
    * over-cap census + anti-join — the q89 hot-key rule, the same shape the
    * bucket-local tier's survival census uses (r12 directive 1): a
    * `count(·) OVER (PARTITION BY band, sig)` window would buffer each
    * bucket in ONE task, so the over-cap mega-bucket the cap exists to shed
    * is exactly the partition that would straggle. The census combines
    * map-side (a bucket duplicated a billion times collapses per input
    * partition), its over-cap survivors are ≤ rows/maxBucket and in honest
    * regimes just the boilerplate families — a runtime-tiny frame AQE
    * broadcasts into the anti-join, so the bucket rows never shuffle on the
    * bucket key here at all. count(doc_id), not count(*): both the census
    * and the kept branch must project (doc_id, band, sig) below the shared
    * signature exchange or the canonical subtrees split and the signatures
    * compute twice (the q104 census lesson; DedupPlanSpec pins one scan). */
  private def capBuckets(buckets: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) buckets
    else {
      val over = buckets.groupBy(col("band"), col("sig"))
        .agg(count(col("doc_id")).as("occ"))
        .filter(col("occ") > maxBucket)
        .select(col("band"), col("sig"))
      buckets.join(over, Seq("band", "sig"), "left_anti")
    }

  /** Histogram of (band, sig) bucket occupancies over the distinct-text
    * corpus — the sizing probe behind the q224b capped gate's `maxBucket`
    * (see `graft.tools.BucketOccupancy`): identity collapse first, so
    * occupancy counts REPS exactly as [[capBuckets]] sees them. */
  def bucketOccupancyHistogram(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val repDocs = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        size(TextOps.tokens(col("text"))) >= ShingleN)
      .repartition(par, col("text"))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    bandBuckets(repDocs, Int.MaxValue, prespread = true)
      .groupBy(col("band"), col("sig")).agg(count(col("doc_id")).as("occupancy"))
      .groupBy(col("occupancy")).agg(count(lit(1)).as("buckets"))
  }

  /** BUCKET-LOCAL exact verification (r11 — the designed mitigation of the
    * output-proportional verify boundary named in SCALING.md): verified
    * representative pairs (a_id, b_id, inter, uni) computed INSIDE the LSH
    * band buckets instead of joining shingle arrays at pair cardinality.
    *
    * Why it exists: the default tier distincts candidate pairs, then joins
    * each pair to BOTH docs' shingle arrays — two array-carrying shuffles
    * whose volume is ∝ verified pairs × doc size. Once true pairs alone
    * reach ~10⁸ (dense near-dup regimes: 256 distinct twins per doc ⇒
    * ~163M pairs on the NearDupScale corpus) that shuffle is back at the
    * disk wall NO MATTER how good the candidate filter is — the cost is
    * output-proportional. This tier changes the shuffle SHAPE instead:
    * each doc's shingle set is replicated into its band buckets — ONE
    * shuffle of corpus × bands array rows, independent of pair count —
    * and J is evaluated between co-resident bucket members, emitting only
    * bare (a_id, b_id, inter, uni) rows (pair-proportional, but 32 bytes,
    * not arrays). Right exactly when pairs ≫ corpus × bands; at sparse
    * pair densities the default tier's candidate-bounded shingling reads
    * less data, which is why this is OPT-IN, not the default.
    *
    * Exactly-once emission without a distinct: a pair colliding in k bands
    * would be evaluated k times, so each bucket evaluates a pair iff ITS
    * band is the pair's SMALLEST surviving colliding band — every row
    * carries its doc's band-signature array (`bands` longs) plus a
    * survival bitmask (one long — noise next to the shingle array) and the
    * join condition rejects the pair when any earlier band has ok ∧ ok ∧
    * sig-equal, via the allocation-free codegen loop in
    * [[graft.expressions.EarlierBandCollisionExpr]] (the check runs at
    * Σ occ² join-fan cardinality, so an interpreted HOF here dominated
    * the whole tier — measured rungs in SCALING.md §R11). The survival
    * bit makes
    * the check exact UNDER CAPPING: a bucket shed by `maxBucket` must not
    * count as "earlier collision" (the pair may legitimately meet again in
    * a later surviving band — the default tier keeps it, so this tier must
    * too).
    *
    * Output equality with the default tier (DedupSpec pins it): both emit
    * exactly {(a, b) : a, b share ≥ 1 surviving bucket ∧ J(a,b) ≥ t} with
    * identical integer evidence, because jaccardCols here reads the same
    * exact string shingle sets — the minhash signatures still only decide
    * WHO gets compared, never the outcome. */
  private def bucketLocalVerified(repDocs: DataFrame, num: Int, den: Int,
      maxBucket: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands <= 63, "band survival rides a long bitmask")
    val par = repDocs.sparkSession.sparkContext.defaultParallelism
    val sig = minhashSignatures(repDocs, prespread = true, bands, rowsPerBand)
    val msig = array((0 until bands).map(b =>
      xxhash64((0 until rowsPerBand).map(r =>
        element_at(col("ms"), b * rowsPerBand + r + 1)): _*)): _*)
    // per-doc band-signature array + survival BITMASK (bit b ⇔ the doc's
    // band-b bucket survived the cap). Flat longs, not (sig, ok) structs:
    // the exactly-once check below runs once per JOINED row (Σ occ² — 161M
    // at the NearDupScale 64× rung), so its operands must be readable
    // without per-row allocation. Uncapped every bucket survives (no
    // census); capped (r12 directive 1 — the q89 hot-key rule) the shed
    // buckets come from a groupBy (band, sig) partial-agg census, NEVER a
    // window: count(·) OVER (PARTITION BY band, sig) buffers each bucket
    // in ONE window task, so the over-cap mega-bucket the cap exists to
    // shed is exactly the partition that would straggle. The census
    // combines map-side (a bucket duplicated a billion times is a
    // non-event), its over-cap survivors are ≤ (corpus × bands)/maxBucket
    // rows and in honest regimes just the boilerplate families — a
    // runtime-tiny frame AQE broadcasts into the left join, so the
    // per-doc rows never shuffle on the bucket key at all; they re-enter
    // the groupBy (doc_id) on the partitioning minhashSignatures already
    // gave them. count(doc_id), not count(*): both census and join-back
    // branches must project (doc_id, ms) below the shared doc_id exchange
    // or the canonical subtrees split and the corpus scans twice (the
    // q104 census lesson).
    val bv =
      if (maxBucket == Int.MaxValue)
        sig.select(col("doc_id"), msig.as("sigs"),
          lit((1L << bands) - 1).as("okm"))
      else {
        val expl = sig.select(col("doc_id"), posexplode(msig).as(Seq("band", "sig")))
        val shed = expl.groupBy(col("band"), col("sig"))
          .agg(count(col("doc_id")).as("occ"))
          .filter(col("occ") > maxBucket)
          .select(col("band"), col("sig"), lit(true).as("over"))
        expl.join(shed, Seq("band", "sig"), "left")
          .groupBy(col("doc_id"))
          .agg(
            transform(array_sort(collect_list(struct(col("band"), col("sig")))),
              x => x.getField("sig")).as("sigs"),
            sum(when(col("over").isNull,
                expr("shiftleft(CAST(1 AS BIGINT), band)"))
              .otherwise(lit(0L))).as("okm"))
      }
    // corpus-wide shingle sets (every doc's set must reach its buckets —
    // the corpus×bands replication IS the design), attached on the shared
    // doc_id partitioning before the bucket explode
    val sh = repDocs
      .select(col("doc_id"),
        array_sort(TextOps.shingles(col("text"), ShingleN)).as("sh"))
      .repartition(par, col("doc_id"))
    // posexplode_OUTER: sigs is never empty (bands >= 1 literal array), so
    // outer is semantically identical — but the INNER generator's implicit
    // non-empty guard pushes through the join into the minhash branch's
    // scan ONLY, splitting the shared collapse exchange's canonical
    // subtrees: the uncapped tier scanned + shingled the corpus TWICE (the
    // q79 guard hazard in its exchange-splitting form; PlanSpec pins one
    // scan for both tiers now — the capped tier was already immune, its
    // survival aggregate blocks the pushdown)
    val bsh = bv.join(sh, Seq("doc_id"))
      .select(col("doc_id"), col("sigs"), col("okm"), col("sh"),
        posexplode_outer(col("sigs")).as(Seq("band", "sig")))
      .filter(expr("(shiftright(okm, band) & 1) = 1"))
    // least-surviving-colliding-band check: any band BEFORE this one where
    // both docs' buckets survived and the signatures match ⇒ not ours.
    // Native codegen expression ([[graft.expressions.
    // EarlierBandCollisionExpr]]): the HOF spelling (exists ∘ zip_with ∘
    // slice×2) is CodegenFallback and allocated three arrays per joined
    // row, at Σ occ² join-fan cardinality.
    val notEarlier = not(graft.expressions.EarlierBandCollisionExpr
      .earlierCollision(col("a.sigs"), col("a.okm"),
        col("b.sigs"), col("b.okm"), col("a.band")))
    val (inter, uni) = jaccardColsSorted(col("a.sh"), col("b.sh"))
    // The Jaccard threshold sits INSIDE the join condition, as the LAST
    // conjunct — deliberately. Left as a filter above the join, Catalyst
    // merges it into the condition anyway (it references both sides), but
    // then ITS position among the conjuncts is the optimizer's choice;
    // spelled here, codegen's && short-circuit guarantees the merge runs
    // only on rows that already passed the cheap band checks — once per
    // distinct pair (least-band), never per bucket collision.
    val threshold = inter * den >= uni * num
    bsh.as("a").join(bsh.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id") && notEarlier && threshold)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        inter.as("inter"), uni.as("uni"))
  }

  /** LSH candidate pairs verified by exact Jaccard ≥ num/den.
    *
    * `maxBucket`: skip any (band, signature) bucket holding more than this
    * many documents. At 100 TB a boilerplate cluster of B near-identical
    * docs lands its whole membership in the SAME bucket of every band —
    * B² candidate pairs from one key, the classic LSH hot-bucket blowup.
    * BYTE-identical clusters never reach buckets at all since r9: the
    * identity collapse (see [[prefixJaccardPairs]]) signs one
    * representative per distinct text and recovers member pairs through
    * narrow id joins, with the cap applied to the group census under the
    * same contract. For NEAR-identical (not byte-equal) clusters the
    * bucket cap remains the guard; capping trades recall ONLY on clusters
    * larger than the cap (members pair in another band iff any band's
    * bucket stays under it). Note the cap now counts DISTINCT-TEXT bucket
    * membership: byte-duplicates no longer consume cap budget, so a
    * capped run keeps strictly more true pairs at the same candidate-work
    * bound than the pre-collapse spelling. Uncapped (the default, used by
    * the gate so the DuckDB oracle replays exactly) nothing changes.
    *
    * Physical design (the part that matters at 100 TB):
    *  1. signatures are ONE corpus pass: token hashes (codegen'd
    *     `transform`) → [[graft.expressions.MinHashSigExpr]], a native
    *     fused expression computing trigram hashes AND all 32 permutation
    *     minima in a single loop (the K-pass HOF tree it replaces walked
    *     the array 32× with an allocation per pass). Hashing (not string
    *     shingles) only drives CANDIDATE GENERATION — verification uses
    *     exact string shingle sets, so a 2⁻⁶⁴ hash collision can at most
    *     add a candidate that verification rejects, never change output.
    *     The trailing `repartition(doc_id)` materializes signatures
    *     through a shuffle whose exchange is load-bearing: both sides of
    *     the bucket self-join and the candIds branch reuse the SAME
    *     exchange (ReusedExchange) instead of recomputing signatures per
    *     branch (measured 13.7 s vs 4.9 s at sf0.1), and it carries only
    *     33 longs per document;
    *  2. candidates come from the band-bucket self-join (cost ∝ bucket
    *     sizes, bounded by duplicate-cluster size, not n²); 16 bands × 2
    *     rows puts the J=0.8 miss probability at (1−0.64)¹⁶ ≈ 8·10⁻⁸, so
    *     gate-scale recall is exactly 100% (oracle-checked) and the extra
    *     moderate-similarity candidates are discarded by verification;
    *  3. verification re-shingles ONLY candidate documents (repDocs
    *     semi-joined against the bare candidate-id set — reads the
    *     collapse exchange again rather than re-scanning parquet; the
    *     semi-join runs BELOW the shingle projection and carries no filter
    *     that Catalyst could push into the scan): only bare id frames ever
    *     ride the candidate joins, never shingle-carrying rows at pair
    *     cardinality (since r9, `cand` itself is rep-pair-sized, never
    *     output-sized; since r10 its joins are UNHINTED — AQE broadcasts
    *     when the runtime size is small and falls back to a shuffle join
    *     in the honest near-dup regime where rep pairs ∝ corpus), and the
    *     corpus text is shuffled exactly once, into the collapse exchange
    *     (measured sf0.1: 16.2 s r1 → 5.1 s cold / 2.5 s warm with
    *     candidate-only shingling and exchange reuse);
    *  4. the threshold test is integer-exact (`inter·den ≥ num·uni`) on the
    *     exact STRING shingle sets — identical to the oracle's semantics —
    *     and the output is the integer (inter, uni) pair, so no float or
    *     hash approximation can diverge.
    */
  /** The collapse-level internals of [[minhashLshPairs]], for consumers
    * that can work at representative granularity without expanding
    * ([[dedupCorpus]]): `core` = verified REP pairs (a_id, b_id, inter,
    * uni), `mapping` = (doc_id, rep_id) member→representative,
    * `repN` = (rn_id, nsz) for exactly the identity groups that EXPAND
    * into pairs (≥ 2 members, within the bucket cap, ≥ 1 shingle). */
  private[operators] case class LshCollapsed(
      core: DataFrame, mapping: DataFrame, repN: DataFrame)

  private def minhashCollapsed(docs: DataFrame, num: Int, den: Int,
      maxBucket: Int, bucketLocalVerify: Boolean = false,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): LshCollapsed = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // ---- identity collapse (r9) — same construction and same measured
    // cliff family as prefixJaccardPairs: byte-identical texts sign, band,
    // and verify as ONE representative, so `cand` below is rep-pair-sized
    // — in the 64× identical-copy probe the old spelling carried 11.1M
    // OUTPUT id pairs through the verification joins (the q104 disk-full
    // cliff); member pairs are recovered by narrow id joins. The
    // hot-bucket cap keeps its exact contract (clusters larger than the
    // cap shed their pairs) via the GROUP census in the identity path.
    // the >= ShingleN token filter is HOISTED here: bandBuckets applies it
    // anyway, and being a pure function of the group key Catalyst pushes
    // it through the rep aggregate into that branch's scan — present on
    // one branch only it splits the canonical subtrees and the corpus
    // scans twice (caught by the r9 PlanSpec scan pin). Docs too short to
    // shingle contribute to NO pair either way: they had no signature
    // pre-collapse, and the identity path requires >= 1 shingle.
    val byText = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        size(TextOps.tokens(col("text"))) >= ShingleN)
      .repartition(par, col("text"))
    val reps = byText.groupBy(col("text")).agg(min(col("doc_id")).as("rep_id"))
    val mapping = byText.join(reps.hint("merge"), Seq("text"))
      .select(col("doc_id"), col("rep_id"))
    val repDocs = reps.select(col("rep_id").as("doc_id"), col("text"))

    val verified =
      if (bucketLocalVerify)
        // opt-in pair-dense tier (r11): J evaluated inside the band
        // buckets, shuffle ∝ corpus × bands — see [[bucketLocalVerified]]
        bucketLocalVerified(repDocs, num, den, maxBucket, bands, rowsPerBand)
      else defaultVerified(repDocs, num, den, maxBucket, bands, rowsPerBand)
    minhashCollapsedCore(verified, mapping, repDocs, maxBucket)
  }

  /** The default (candidate-distinct) exact-verification tier of
    * [[minhashCollapsed]]: band-bucket self-join → distinct bare pairs →
    * candidate-only shingling → two array joins at pair cardinality.
    * Cheapest when pairs ≪ corpus (shingling is candidate-bounded); its
    * array-at-pair-cardinality shuffles are exactly the boundary
    * [[bucketLocalVerified]] exists for. */
  private def defaultVerified(repDocs: DataFrame, num: Int, den: Int,
      maxBucket: Int, bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val par = repDocs.sparkSession.sparkContext.defaultParallelism
    val buckets = bandBuckets(repDocs, maxBucket, prespread = true,
      bands = bands, rowsPerBand = rowsPerBand)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // Shingle ONLY candidate documents: semi-join the corpus against the
    // (broadcast, bare-id) candidate set BEFORE the shingle projection, so
    // string-shingle work is ∝ candidates, not corpus size — the projection
    // would otherwise run corpus-wide on BOTH verification branches.
    val candIds = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    // No size(sh)>0 filter here (unlike withShingles): candidates always
    // have ≥ ShingleN tokens, and the filter would be PUSHED BELOW the
    // semi-join by Catalyst, re-evaluating the shingle expression
    // corpus-wide inside the scan filter — the exact cost the semi-join
    // exists to avoid.
    // The trailing repartition makes the (tiny, candidate-bounded) shingle
    // table a reusable exchange: both verification join sides read ONE
    // computed copy instead of re-scanning + re-shingling per side.
    // candIds / cand are deliberately UNHINTED (r10): they are rep-pair-
    // proportional, which is genuinely small in the identical-copy regime
    // the r9 probes measured but corpus-proportional in the honest
    // near-dup regime (a crawl where near-twins are textually DISTINCT, so
    // collapse cannot shrink them) — a forced broadcast there is the q46
    // broadcast-OOM wearing its original hat. AQE sees the runtime size
    // and still broadcasts when the frame is actually small (PlanSpec pins
    // the gate-scale BroadcastHashJoin; the NearDupScale probe shows the
    // same code picking a shuffle join when pairs grow with the corpus).
    val sh = repDocs.join(candIds, Seq("doc_id"), "left_semi")
      // sorted at the DOC projection so each pair evaluation below is the
      // codegen merge of jaccardColsSorted, not an interpreted hash build
      .select(col("doc_id"),
        array_sort(TextOps.shingles(col("text"), ShingleN)).as("sh"))
      // explicit count, same AQE-coalesce hazard: the verification joins
      // sit above this exchange
      .repartition(par, col("doc_id"))
    val (inter, uni) = jaccardColsSorted(col("a_sh"), col("b_sh"))
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", inter)
      .withColumn("uni", uni)
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }

  private def minhashCollapsedCore(verified: DataFrame, mapping: DataFrame,
      repDocs: DataFrame, maxBucket: Int): LshCollapsed = {
    // Under a cap, rep pairs touching an OVER-CAP identity group are shed
    // (r10, ADVICE): pre-collapse, every bucket containing any member of a
    // byte-identical class of size > maxBucket held the whole class and
    // was shed — so no pair involving the class survived. The collapsed
    // buckets count REPS, so such a pair could sneak through and its cross
    // expansion would emit |A|×|B| member pairs — two bridged over-cap
    // classes reproduce the exact quadratic-output cliff the cap guards
    // against. The group census restores the pre-collapse OUTPUT BOUND —
    // never sheds more than the pre-collapse cap did; it may keep bystander
    // pairs the pre-collapse cap shed (under-cap docs whose buckets only
    // overflowed because identity-class members, or several mid-size
    // classes, co-resided), since collapsed buckets count reps.
    val core =
      if (maxBucket == Int.MaxValue) verified
      else {
        val overCap = mapping.groupBy(col("rep_id"))
          .agg(count(col("doc_id")).as("m"))
          .filter(col("m") > maxBucket).select(col("rep_id").as("oc"))
        verified
          .join(overCap, col("a_id") === col("oc"), "left_anti")
          .join(overCap, col("b_id") === col("oc"), "left_anti")
      }
    // identity groups that EXPAND into pairs: ≥ 2 identical docs, within
    // the bucket cap (an identical cluster larger than maxBucket sheds
    // its pairs, replaying the cap's contract through the group census),
    // ≥ 1 shingle. The shingle-size projection runs only on
    // duplicate-group reps (semi-join first), INSIDE an aggregate so the
    // nsz > 0 guard cannot be pushed through the semi-join into a
    // corpus-wide scan filter (the q46 pushdown lesson).
    val dupFilter = if (maxBucket == Int.MaxValue) col("m") >= 2
      else col("m") >= 2 && col("m") <= maxBucket
    val dupReps = mapping.groupBy(col("rep_id"))
      // count(doc_id), not count(*): keeps doc_id below the shared exchange so
      // this census branch prunes like every other mapping consumer and the
      // collapse exchange stays canonically EQUAL (the q104 census lesson;
      // the r9 PlanSpec scan pin caught the count(*) spelling re-scanning)
      .agg(count(col("doc_id")).as("m"))
      .filter(dupFilter).select(col("rep_id").as("doc_id"))
    val repN = repDocs.join(dupReps, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(max(size(TextOps.shingles(col("text"), ShingleN))).as("nsz"))
      .filter(col("nsz") > 0)
      .select(col("doc_id").as("rn_id"), col("nsz"))
    LshCollapsed(core, mapping, repN)
  }

  /** `bucketLocalVerify`: opt into the pair-dense verification tier —
    * identical output (DedupSpec pins equality), shuffle ∝ corpus × bands
    * instead of ∝ verified pairs × doc size. Choose it when expected true
    * pairs ≳ 2 × corpus × bands; below that the default tier's
    * candidate-bounded shingling reads less data. That crossover is
    * MEASURED (NearDupScale honest-twin ladder, SCALING.md §R11):
    * through pairs ≈ 2 × corpus×bands the tiers stay within ~1.7× of
    * each other (regime- and JIT-dependent at probe scale); at ≈ 4×
    * bucket-local is 3.3× faster; at ≈ 9× (178.7M pairs — past the ~10⁸
    * output-proportional boundary r10 named) the default tier's
    * array-at-pair-cardinality shuffle exceeds an 80 GB scratch disk
    * entirely while this tier completes disk-flat.
    *
    * `bands` × `rowsPerBand` (r11 directive 6 — a SIZING RULE, not a
    * constant; measured curve in SCALING.md §R11):
    *  - recall: a J-similar pair shares a band bucket with probability
    *    1 − (1−J^r)^b, so the miss rate at the threshold t is
    *    (1 − t^r)^b — b buys recall LINEARLY in cost (bucket rows, the
    *    signature width, and in the bucket-local tier the corpus×bands
    *    shuffle), while r buys candidate PRECISION exponentially against
    *    background similarity (spurious candidates per pair ∝ b·J_bg^r)
    *    but costs recall exponentially (t^r shrinks), which b must then
    *    buy back. Verification is exact either way: banding only ever
    *    changes WHO gets compared and what the candidate stage costs,
    *    never the emitted pair set beyond misses.
    *  - rule: pick the smallest r with b·J_bg^r ≪ 1 per-pair spurious
    *    collisions for the corpus's background similarity (shingle
    *    corpora: r = 2 unless boilerplate pushes J_bg above ~0.3), then
    *    b = ⌈ln ε / ln(1 − t^r)⌉ for target miss ε — the default 16×2 at
    *    t = 0.8 gives ε ≈ 8·10⁻⁸. At fixed k = b·r, halving r and
    *    doubling b (32×1) floods candidates with every pair sharing ONE
    *    shingle (the q104 honest-regime reject bulk, measured); doubling
    *    r to 16×4 (k = 64) drops the threshold-pair collision rate to
    *    t⁴ = 0.41 per band and needs b ≈ 35 for the same ε — wider
    *    signatures and more buckets for nothing at t = 0.8. 16×2 is the
    *    measured knee for t ∈ [0.7, 0.9]; lower thresholds (t ≈ 0.5)
    *    genuinely need r = 1 tiers or more bands. The rule is EXECUTABLE:
    *    [[bandingFor]] returns (b, r) from (t, miss budget, background J)
    *    and [[bandedMissRate]] is the per-pair model behind it — DedupSpec
    *    replays the §R11 measured recall table through both. */
  /** Miss probability of a (bands × rowsPerBand) MinHash banding for a
    * pair of true Jaccard `j`: (1 − j^r)^b — the pair is found iff it
    * collides in at least one band. This is the exact per-pair model the
    * sizing rule above inverts; averaged over a corpus's true-pair J
    * distribution it PREDICTS the measured recall table (SCALING.md §R11;
    * DedupSpec replays 8×2 → ~5·10⁻⁶ and 16×4 → ~3·10⁻⁶ from the honest
    * twin corpus's own (inter, uni) evidence). */
  def bandedMissRate(bands: Int, rowsPerBand: Int, j: Double): Double = {
    require(bands >= 1 && rowsPerBand >= 1 && j >= 0.0 && j <= 1.0)
    math.pow(1.0 - math.pow(j, rowsPerBand), bands)
  }

  /** The measured banding sizing rule as code (r11 directive 6 →
    * r12 directive 6): pick (bands b, rowsPerBand r) for a Jaccard
    * threshold t = tNum/tDen such that
    *
    *  1. r is the SMALLEST row count keeping spurious candidates per pair
    *     bounded — b · backgroundJ^r ≤ maxSpurious — because r buys
    *     candidate precision exponentially against the corpus's
    *     background similarity while costing recall exponentially
    *     (t^r shrinks), which b must then buy back;
    *  2. b = ⌈ln targetMiss / ln(1 − t^r)⌉ — recall is linear in b (and
    *     so is cost: bucket rows, signature width, and the bucket-local
    *     tier's corpus×bands shuffle), so b is set by the miss budget and
    *     nothing else.
    *
    * Defaults reproduce the measured knee: bandingFor(4, 5) = (16, 2),
    * the shipped default for t ∈ [0.7, 0.9] over shingle corpora with
    * J_bg ≈ 0.1 (worst-case threshold-pair miss ≈ 8·10⁻⁸; ACTUAL corpus
    * miss is lower still because true pairs sit above t — see
    * [[bandedMissRate]]). Lower thresholds genuinely move the answer:
    * t = 0.5 returns r = 2 with ~3× the bands. The result is worst-case
    * at the threshold; callers needing the corpus-calibrated prediction
    * fold [[bandedMissRate]] over their pair evidence.
    * `bucketLocalVerify` additionally requires b ≤ 63 (long bitmask) —
    * enforced there, not here, since the default tier has no such bound. */
  def bandingFor(tNum: Int, tDen: Int, targetMiss: Double = 1e-7,
      backgroundJ: Double = 0.1, maxSpurious: Double = 0.5): (Int, Int) = {
    require(tNum > 0 && tDen > tNum, s"need 0 < t < 1, got $tNum/$tDen")
    require(targetMiss > 0 && targetMiss < 1, s"bad targetMiss $targetMiss")
    val t = tNum.toDouble / tDen
    require(backgroundJ >= 0 && backgroundJ < t,
      s"backgroundJ $backgroundJ must sit below the threshold $t")
    var r = 1
    while (r <= 32) {
      val b = math.ceil(math.log(targetMiss) / math.log1p(-math.pow(t, r)))
      if (b >= 1 && b <= 1e6 && b * math.pow(backgroundJ, r) <= maxSpurious)
        return (b.toInt, r)
      r += 1
    }
    throw new IllegalArgumentException(
      s"no banding with <= 32 rows/band satisfies miss $targetMiss at t=$t, J_bg=$backgroundJ")
  }

  def minhashLshPairs(docs: DataFrame, num: Int, den: Int,
      maxBucket: Int = Int.MaxValue,
      bucketLocalVerify: Boolean = false,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val c = minhashCollapsed(docs, num, den, maxBucket, bucketLocalVerify,
      bands, rowsPerBand)
    // ---- expansion back to member pairs (see prefixJaccardPairs):
    // cross pairs inherit the rep pair's evidence; identity pairs are
    // J = 1 by construction with inter = uni = |shingles(rep)|
    val ma = c.mapping.select(col("doc_id").as("xa"), col("rep_id").as("ra"))
    val mb = c.mapping.select(col("doc_id").as("xb"), col("rep_id").as("rb"))
    val cross = c.core
      .join(ma, col("a_id") === col("ra"))
      .join(mb, col("b_id") === col("rb"))
      .select(least(col("xa"), col("xb")).as("a_id"),
        greatest(col("xa"), col("xb")).as("b_id"), col("inter"), col("uni"))
    val ident = ma.join(mb, col("ra") === col("rb") && col("xa") < col("xb"))
      .join(c.repN, col("ra") === col("rn_id"))
      .select(col("xa").as("a_id"), col("xb").as("b_id"),
        col("nsz").as("inter"), col("nsz").as("uni"))
    cross.unionByName(ident)
  }

  /** Connected components over an undirected edge list (a_id, b_id) via
    * iterative min-label propagation — the step that turns near-dup PAIRS
    * into duplicate CLUSTERS with a deterministic representative (min id).
    *
    * Distributed shape: labels and edges stay DataFrames throughout; each
    * iteration propagates neighbor minima AND label-of-label (pointer
    * doubling), so a chain of length L converges in O(log L) rounds, not
    * O(L); the driver only orchestrates the fixpoint loop.
    * [[graft.core.Lineage.cut]] cuts the growing lineage each round so
    * the plan does not re-expand previous iterations (reliable
    * checkpointing under `spark.graft.checkpointDir`). Input is the
    * candidate-bounded pair set (tiny relative to the corpus), never the
    * corpus itself. THROWS if the fixpoint is not reached within
    * `maxIters` — a silently partial labeling would dedup incorrectly.
    *
    * Sizing note (r11, measured): the edge frame's lineage cut holds the
    * FULL pair set as executor storage under the default
    * `localCheckpoint` mode. Past ~4×10⁸ edges in a single JVM that
    * block residency competes with join execution memory and OOMs
    * regardless of heap (48g and 80g both died on the honest 384× rung);
    * setting `spark.graft.checkpointDir` moves round state to files and
    * the same JVM completes 384× (1533 s) and 512× = 7.2×10⁸ edges
    * (1881 s) — SCALING.md §R11. On a cluster the conf is simply the
    * HDFS/S3 checkpoint dir every long iterative job should set anyway.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // the edge cut carries hash(v) — the round join's key (r14, the
    // labelPropagation discipline: AQE checkpoints drop partitioning, so
    // without the re-assertion every round re-shuffles the 2E-row edge
    // frame; at the ~1e8-edge regimes SCALING.md measures, that is the
    // round's dominant byte mover)
    val e = graft.core.Lineage.recutPartitioned(
      edges.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(edges.select(col("b_id").as("u"), col("a_id").as("v")))
        .repartition(col("v"))
        .cutLineage(), "v")
    var labels = e.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .cutLineage()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbr = e.join(labels, e("v") === labels("node"))
        .select(e("u").as("node"), col("label"))
      // pointer doubling: label(u) can also shrink to label(label(u))
      val hop = labels.as("a")
        .join(labels.select(col("node").as("ln"), col("label").as("ll")),
          col("a.label") === col("ln"))
        .select(col("a.node").as("node"), col("ll").as("label"))
      val next = labels.union(nbr).union(hop)
        .groupBy("node").agg(min("label").as("label"))
        .cutLineage()
      val changed = next.join(labels.withColumnRenamed("label", "prev"), "node")
        .filter(col("label") =!= col("prev")).count()
      graft.core.Lineage.release(labels) // convergence probe done → i−1 dead
      labels = next
      converged = changed == 0
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters iterations — " +
        "raise maxIters; a partial labeling must never be used for dedup")
    graft.core.Lineage.release(e) // returned labels are self-contained blocks
    labels
  }

  /** The end-to-end dedup deliverable as one call: LSH candidate pairs →
    * connected components → keep only cluster REPRESENTATIVES (min doc_id)
    * plus every unpaired document.
    *
    * COLLAPSE-AWARE (r9): components run over the REPRESENTATIVE pair
    * graph ([[minhashCollapsed]]) — replication-invariant — and members
    * inherit their representative's label through the narrow mapping, so
    * the duplication regime never shuffles the quadratic expanded edge
    * set (the 256× probe ran CC over 180M expanded edges for 166.7 s;
    * rep pairs there number 256). Exactness: every group's rep IS its
    * min id, so min over reps in a component equals min over members;
    * member x's label in the EXPANDED graph is
    *   - L(rep(x)) when the rep has ≥ 1 rep pair (cross expansion links
    *     ALL members through the partner's members, merging them into one
    *     component; since r10 a rep pair touching an OVER-CAP identity
    *     group is shed in `core` itself — see [[minhashCollapsed]] — so
    *     such groups fall through to the no-edges case, exactly as their
    *     over-cap buckets shed them pre-collapse),
    *   - rep(x) when the group expands identity pairs but the rep has no
    *     rep pair (the group is its own cluster),
    *   - x itself otherwise (no edges at all: singleton, over-cap, or
    *     unshingleable — all kept).
    * EVERY join here is deliberately UNHINTED (r10): labels and repN have
    * one row per distinct near-dup/duplicated text — rep-bounded in the
    * identical-copy regime but corpus-proportional in an honest near-dup
    * crawl, the same reason the drop anti-join was never hinted. AQE
    * broadcasts them when the runtime size is actually small. */
  def dedupCorpus(docs: DataFrame, num: Int, den: Int,
      maxBucket: Int = Int.MaxValue,
      bucketLocalVerify: Boolean = false,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val c = minhashCollapsed(docs, num, den, maxBucket, bucketLocalVerify,
      bands, rowsPerBand)
    val labels = connectedComponents(c.core.select(col("a_id"), col("b_id")))
      .select(col("node").as("rid"), col("label"))
    val dropIds = c.mapping
      .join(labels, col("rep_id") === col("rid"), "left")
      .join(c.repN.select(col("rn_id")),
        col("rep_id") === col("rn_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"),
          when(col("rn_id").isNotNull, col("rep_id"))).as("lab"))
      .filter(col("lab").isNotNull && col("doc_id") =!= col("lab"))
      .select(col("doc_id"))
    docs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Segment-level (sub-document) exact dedup — the CCNet-shaped pass that
    * document-level dedup cannot replace: boilerplate paragraphs repeat
    * across MOSTLY-distinct pages, so whole-document fingerprints never
    * fire. Documents are cut on a non-overlapping `segTokens` grid
    * (`Curation.chunkDocuments` with stride = chunk); a segment survives
    * only at its FIRST corpus occurrence (min (doc_id, chunk_id) — the
    * keep-first rule, so one copy of every repeated paragraph remains);
    * each document is reassembled from its surviving segments in order.
    *
    * Scale shape: first-occurrence detection is a `groupBy(segment)` with
    * a `min(struct(doc_id, chunk_id))` — partial aggregation collapses a
    * million-occurrence boilerplate segment to one row PER MAP TASK before
    * the shuffle (the reason this is an agg + join-back, not a window over
    * the segment key, which would funnel every hot segment's occurrences
    * into one partition). The join back to the chunk table is co-partitioned
    * on the segment key (the agg's own partitioning is reusable) and
    * AQE-skew-splittable. Reassembly is one groupBy(doc_id). Three
    * shuffles total, all carrying (id, short-string) rows — never the
    * original documents. */
  def segmentDedup(docs: DataFrame, segTokens: Int): DataFrame = {
    val chunks = Curation.chunkDocuments(docs, segTokens, segTokens)
      .select(col("doc_id"), col("chunk_id"), col("chunk"))
    val firsts = chunks
      .groupBy(col("chunk").as("seg"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first"))
    chunks.join(firsts, chunks("chunk") === firsts("seg"))
      .withColumn("kept",
        col("first.doc_id") === col("doc_id") && col("first.chunk_id") === col("chunk_id"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("kept"), 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("chunk_id"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("text_dedup"))
  }

  /** Exact duplicated-SPAN removal — the position-level tier below
    * [[segmentDedup]]'s fixed grid: find every word `n`-gram whose total
    * corpus occurrence count (with multiplicity, within AND across
    * documents) reaches `minCount`, merge the token positions those grams
    * cover into maximal spans per document, and strip the covered tokens.
    * This is the "duplicate text spans" pass of LLM-corpus curation
    * (boilerplate headers, license blocks, templated sentences) where the
    * repeated region does NOT align to any grid: a 40-token footer split
    * across two 16-token grid cells survives `segmentDedup` but is fully
    * covered here, because coverage is per-position, not per-cell.
    *
    * Output per document: `n_spans` (maximal merged spans), `dup_tokens`
    * (positions covered), `n_tokens`, `dup_permille` (integer ‰ —
    * integer `div`, no float), and `clean_text` (the uncovered tokens in
    * order; "" when everything was duplicated).
    *
    * Exactness: span merging is gaps-and-islands over the covered-position
    * set (`cpos − row_number()` constant within a run of consecutive
    * integers) — no heuristics, so a SQL oracle replays it bit-for-bit.
    *
    * Scale shape: the gram census is a `groupBy(gram)` partial agg (the
    * Zipf head collapses map-side — same reasoning as [[segmentDedup]]'s
    * agg-not-window rule), probed by an equi-join that AQE broadcasts when
    * the duplicated-gram set is small (the usual case: boilerplate is rare
    * by type, frequent by token). The census and the probe each scan the
    * (doc_id, text)-pruned corpus once — two scans beat a `count(*) OVER
    * (PARTITION BY gram)` single pass, which would shuffle EVERY gram
    * occurrence instead of map-collapsed counts. Everything after the
    * probe carries only (doc_id, int) rows; the island window partitions
    * by doc_id (bounded by document length, never by gram popularity).
    * Text rebuild is row-local: covered positions aggregate to one array
    * per affected doc, join back, and an indexed `filter` drops covered
    * tokens without re-shuffling the corpus. At 100 TB, census grams on
    * `xxhash64` instead of raw text (64-bit keys on the wire; exact-text
    * verify on the candidate join) — the gate keeps raw grams because the
    * oracle must replay them. */
  /** Content-defined chunk dedup — the third sub-document granularity
    * beside [[segmentDedup]] (fixed line blocks) and [[dupSpans]] (fixed
    * n-grams): chunk boundaries are decided by the CONTENT (a token is a
    * boundary when its portable md5 hash ≡ 0 mod `modulus`), so an
    * insertion early in a document shifts positions but not the boundary
    * TOKENS — downstream chunks re-align and still match, the property
    * fixed windows fundamentally lack (every window after an insertion
    * changes). Expected chunk length = `modulus` tokens. Emits the
    * cross-document duplicated chunks (shared by ≥ `minDocs` docs) with
    * occurrence counts — the removal step is then [[segmentDedup]]'s
    * first-wins join shape on chunk fingerprints.
    *
    * Scale shape: one explode, ONE per-doc window (running boundary sum —
    * partitioned by doc_id, bounded by document length, never by chunk
    * popularity), chunk rebuild collapses in the same (doc_id, cid)
    * partial agg, and the census aggregates map-side (the q89 agg-not-
    * window rule for the hot-chunk key). At 100 TB, census on
    * xxhash64(chunk) like [[dupSpans]]; the gate keeps raw chunk text
    * because the oracle must replay it. */
  def cdcChunkDups(docs: DataFrame, modulus: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"bad cdc minDocs $minDocs")
    cdcChunks(docs, modulus)
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(desc("n_occ"), col("chunk"))
  }

  /** The chunking half of [[cdcChunkDups]]: (doc_id, cid, chunk) rows,
    * chunk = the ordered tokens between content-defined boundaries —
    * shared with [[containmentPairs]]' candidate generation.
    *
    * One per-doc codegen pass ([[graft.expressions.CdcChunksExpr]], r13):
    * chunking is doc-local, so the previous explode → corpus-wide
    * (doc, pos) window → collect_list/array_sort regroup spelling
    * shuffled and sorted every token only to reassemble rows it already
    * had (guide §2.4 — removable shuffle; measured 2 Exchange + Window +
    * ObjectHashAggregate → 0 on the chunking half, q133 steady wall
    * ~1.5 → ~0.9 s). `posexplode_outer` + null filter is the q79/q104
    * generator-guard rule: a plain posexplode would push an implicit
    * non-empty guard on the EXPENSIVE chunk expression into the scan and
    * evaluate it per input row; empty/null token arrays yield no rows
    * either way, so the frames are identical ([[cdcChunksWindowed]] is
    * the spec-pinned reference twin). cid is the 0-based chunk index
    * (cast long, the windowed sum's type); no consumer reads its VALUE —
    * q133 groups it away and q136 takes distinct (doc_id, chunk). */
  private[graft] def cdcChunks(docs: DataFrame, modulus: Int): DataFrame = {
    require(modulus >= 2, s"bad cdc modulus $modulus")
    docs.select(col("doc_id"),
        posexplode_outer(graft.expressions.CdcChunksExpr.cdcChunks(
          TextOps.tokens(col("text")), modulus)).as(Seq("cid", "chunk")))
      .filter(col("chunk").isNotNull)
      .select(col("doc_id"), col("cid").cast("long").as("cid"), col("chunk"))
  }

  /** The r1–r12 windowed spelling of [[cdcChunks]] — kept as the
    * cross-check reference twin for the native expression (DedupSpec pins
    * chunk-set equality per doc; cid is a per-doc running index in both,
    * off by the first token's boundary flag, which no consumer reads). */
  private[graft] def cdcChunksWindowed(docs: DataFrame, modulus: Int): DataFrame = {
    require(modulus >= 2, s"bad cdc modulus $modulus")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bnd = (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
      % modulus === 0).cast("int")
    docs.select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("cid", sum(bnd).over(w))
      .groupBy(col("doc_id"), col("cid"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        t => t.getField("tok"))).as("chunk"))
  }

  /** Containment near-dup — the asymmetric case Jaccard structurally
    * misses: a document EMBEDDED in a longer one (quoted article, template
    * + payload) has high containment |A∩B|/|A| but low Jaccard (the union
    * is dominated by B). Candidates come from shared content-defined
    * chunks ([[cdcChunks]]) — two docs sharing long runs of text share
    * CDC chunks regardless of where the run sits (the insertion-robust
    * property q133 pins) — filtered to pairs sharing ≥ half the smaller
    * doc's distinct chunks; verification is the exact integer containment
    * test on distinct shingle sets, restricted to candidates. Output is
    * DIRECTED: contained = the smaller shingle set (lower id on ties).
    *
    * Approximate-candidate tier like q46 (chunk overlap has no
    * containment theorem — a paraphrase inside every chunk defeats it),
    * so the gate replays the WHOLE pipeline (chunking, overlap rule,
    * exact verify) rather than assuming recall; DedupSpec plants a true
    * embedding. Scale shape: byte-identical texts collapse to one
    * representative before chunking (r9 — see body comment; measured
    * 49.2 s → seconds at 16× identical copies, uncapped), the chunk
    * equi-join is bounded by NEAR-identical duplicate-run mass (hot
    * boilerplate chunks are the q46 hot-bucket analogue — cap the census
    * the capBuckets way); shingle arrays touch only representative
    * candidate pairs. */
  def containmentPairs(docs: DataFrame, modulus: Int = 8,
      tNum: Int = 1, tDen: Int = 2,
      maxChunkDocs: Int = Int.MaxValue): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < t <= 1, got $tNum/$tDen")
    require(maxChunkDocs >= 2, s"maxChunkDocs must be >= 2: $maxChunkDocs")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // ---- identity collapse (r9) — the prefixJaccardPairs construction:
    // byte-identical texts share EVERY CDC chunk, so the chunk self-join
    // fanned r² per chunk under duplication (measured 2.0 s → 49.2 s at
    // 1×/16× identical copies, uncapped — the q104 cliff's chunk form).
    // Chunking, overlap, and shingle verification now run on one
    // representative per distinct text; member pairs come back through
    // narrow id joins. Directionality: members inherit the rep pair's
    // size-based direction, except exact size ties, which re-direct per
    // member pair by lower id (the operator's tie rule).
    val byText = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .repartition(par, col("text"))
    val reps = byText.groupBy(col("text")).agg(min(col("doc_id")).as("rep_id"))
    val mapping = byText.join(reps.hint("merge"), Seq("text"))
      .select(col("doc_id"), col("rep_id"))
    val repDocs = reps.select(col("rep_id").as("doc_id"), col("text"))
    val chunks = cdcChunks(repDocs, modulus).select(col("doc_id"), col("chunk")).distinct()
    val counts = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
    // Hot-chunk cap — q46's maxBucket contract on the chunk key: a chunk
    // shared by > maxChunkDocs docs is corpus boilerplate whose B² join
    // blow-up buys no signal (pairs overlapping ONLY on it are boilerplate
    // matches by definition; pairs with genuine shared runs still meet on
    // their other chunks). The census is a map-side partial agg on the
    // SAME chunk key the join uses — never a window (the q89 rule).
    val joinable =
      if (maxChunkDocs == Int.MaxValue) chunks
      else chunks.join(
        chunks.groupBy(col("chunk")).agg(count(lit(1)).as("cdf"))
          .filter(col("cdf") <= maxChunkDocs).select(col("chunk")),
        Seq("chunk"))
    val shared = joinable.as("x").join(joinable.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    val cand = shared
      .join(counts.select(col("doc_id").as("a_id"), col("nc").as("nca")), "a_id")
      .join(counts.select(col("doc_id").as("b_id"), col("nc").as("ncb")), "b_id")
      .filter(col("shared") * 2 >= least(col("nca"), col("ncb")))
      .select(col("a_id"), col("b_id"))
    // sorted at the DOC projection: the verify intersection below runs at
    // candidate-pair cardinality, where Spark's string-array set ops are
    // interpreted (the §R11 kernel lesson) — the sorted-merge expression
    // keeps it in codegen
    val sh = repDocs.select(col("doc_id"),
      array_sort(TextOps.shingles(col("text"), ShingleN)).as("s"))
    val core = cand
      .join(sh.select(col("doc_id").as("a_id"), col("s").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.expressions.SortedInterSizeExpr.interSize(
          col("sa"), col("sb")).as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .filter(col("inter") * tDen >= least(col("na"), col("nb")) * tNum)
      .select(
        when(col("na") < col("nb") ||
          (col("na") === col("nb") && col("a_id") < col("b_id")), col("a_id"))
          .otherwise(col("b_id")).as("contained_id"),
        when(col("na") < col("nb") ||
          (col("na") === col("nb") && col("a_id") < col("b_id")), col("b_id"))
          .otherwise(col("a_id")).as("container_id"),
        col("inter"), least(col("na"), col("nb")).as("n_contained"),
        greatest(col("na"), col("nb")).as("n_container"))
    // ---- expansion. Cross pairs: a strict size gap fixes the direction
    // for every member pair; an exact tie re-directs by lower member id.
    val ma = mapping.select(col("doc_id").as("xa"), col("rep_id").as("ra"))
    val mb = mapping.select(col("doc_id").as("xb"), col("rep_id").as("rb"))
    val tie = col("n_contained") === col("n_container")
    val cross = core
      .join(ma, col("contained_id") === col("ra"))
      .join(mb, col("container_id") === col("rb"))
      .select(
        when(tie, least(col("xa"), col("xb"))).otherwise(col("xa")).as("contained_id"),
        when(tie, greatest(col("xa"), col("xb"))).otherwise(col("xb")).as("container_id"),
        col("inter"), col("n_contained"), col("n_container"))
    // Identity pairs: identical texts fully contain each other whenever
    // the text has >= 1 token (zero-token docs have no chunks and were
    // never candidates pre-collapse; <ShingleN-token docs WERE — they
    // share all chunks and pass the 0 >= 0 containment test with empty
    // shingle sets, so ntok gates the group, not nsz). The hot-chunk cap
    // sheds identity groups larger than maxChunkDocs, exactly as their
    // (all-shared) chunks would have been shed. Sizes compute inside an
    // aggregate so no shingle/token expression can push into a scan.
    val dupFilter = if (maxChunkDocs == Int.MaxValue) col("m") >= 2
      else col("m") >= 2 && col("m") <= maxChunkDocs
    val dupReps = mapping.groupBy(col("rep_id"))
      // count(doc_id), not count(*): keeps doc_id below the shared exchange so
      // this census branch prunes like every other mapping consumer and the
      // collapse exchange stays canonically EQUAL (the q104 census lesson;
      // the r9 PlanSpec scan pin caught the count(*) spelling re-scanning)
      .agg(count(col("doc_id")).as("m"))
      .filter(dupFilter).select(col("rep_id").as("doc_id"))
    val repN = repDocs.join(dupReps, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(max(size(TextOps.shingles(col("text"), ShingleN))).as("nsz"),
        max(size(TextOps.tokens(col("text")))).as("ntok"))
      .filter(col("ntok") >= 1)
      .select(col("doc_id").as("rn_id"), col("nsz"))
    val ident = ma.join(mb, col("ra") === col("rb") && col("xa") < col("xb"))
      .join(repN, col("ra") === col("rn_id"))
      .select(col("xa").as("contained_id"), col("xb").as("container_id"),
        col("nsz").as("inter"), col("nsz").as("n_contained"),
        col("nsz").as("n_container"))
    cross.unionByName(ident)
      .orderBy(col("contained_id"), col("container_id"))
  }

  def dupSpans(docs: DataFrame, n: Int, minCount: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1 (got $n)")
    require(minCount >= 2, s"minCount must be >= 2 (got $minCount)")
    val base = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")))
    // q84's blessed generator shape: index-only explode input, slice after.
    val grams = base.where(col("n_tokens") >= n)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n_tokens") - n)).as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", expr(s"slice(t, pos + 1, $n)")).as("gram"))
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("gram"))
    val covered = grams.join(dupGrams, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cpos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("cpos"))
    val spanStats = covered
      .withColumn("k", col("cpos") - row_number().over(w))
      .groupBy(col("doc_id"), col("k"))
      .agg(min(col("cpos")).as("s"), max(col("cpos")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    val covSets = covered.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("cpos"))).as("cov"))
    base
      .join(spanStats, Seq("doc_id"), "left")
      .join(covSets, Seq("doc_id"), "left")
      .withColumn("covA", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens").cast("long").as("n_tokens"),
        expr("coalesce(dup_tokens, 0L) * 1000 div greatest(n_tokens, 1)")
          .as("dup_permille"),
        array_join(
          filter(col("t"), (tok, i) => !array_contains(col("covA"), i)),
          " ").as("clean_text"))
  }

  /** The reference side's LSH state as a persistable BAND-BUCKET table
    * (doc_id, band, sig — Bands rows per doc, band hashes fixed to the
    * current 16×2 banding): write it beside the corpus once, and every
    * incoming batch joins against the stored table instead of
    * re-signaturing the reference
    * (`fuzzyReferenceDedup(…, refBuckets = Some(spark.read.parquet(p)))`).
    * Reference TEXT is still read for verification, but only for
    * candidate documents (semi-join pruned). */
  def referenceSignatures(reference: DataFrame,
      maxBucket: Int = Int.MaxValue): DataFrame = bandBuckets(reference, maxBucket)

  /** Fuzzy incremental dedup — the NEAR-duplicate twin of
    * `Curation.bloomReferenceDedup` (which drops only exact-fingerprint
    * matches): drop every incoming document whose word-trigram Jaccard
    * against ANY reference document reaches num/den. Candidates come from
    * an incoming×reference band-bucket equi-join (never a cross product);
    * verification re-shingles only candidate documents on each side and is
    * exact, so hash collisions cannot change the output. At 100 TB the
    * reference side's band buckets are a build-once table
    * ([[referenceSignatures]]) — persist them like `IvfIndex` and each
    * incoming batch pays one signature pass over ITSELF plus a bucket
    * join. `maxBucket` is applied to BOTH sides, including a supplied
    * `refBuckets` table (re-capping a persisted table is a column-pruned
    * census scan + broadcast anti-join, no shuffle of the table — a
    * stricter cap at probe time needs no rebuild). */
  def fuzzyReferenceDedup(incoming: DataFrame, reference: DataFrame,
      num: Int, den: Int, maxBucket: Int = Int.MaxValue,
      refBuckets: Option[DataFrame] = None): DataFrame = {
    val cand = bandBuckets(incoming, maxBucket).as("a")
      .join(capBuckets(refBuckets.getOrElse(bandBuckets(reference, Int.MaxValue)), maxBucket).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // UNHINTED since r10 (the minhashCollapsed rationale, cross-corpus
    // form): cand is ∝ incoming×reference near-dup density and dupIds is
    // ∝ the matched share of the INCOMING batch — in a decontamination
    // run against a large reference, both are corpus-proportional, so a
    // forced broadcast is the q46 OOM in cross-corpus dress. AQE still
    // broadcasts them when the runtime sizes are actually small.
    def shinglesOf(docs: DataFrame, idAlias: String, shAlias: String) = {
      val ids = cand.select(col(s"${idAlias}").as("doc_id")).distinct()
      fanOut(docs.join(ids, Seq("doc_id"), "left_semi"), gauge = docs)
        .select(col("doc_id").as(idAlias),
          array_sort(TextOps.shingles(col("text"), ShingleN)).as(shAlias))
    }
    val (inter, uni) = jaccardColsSorted(col("a_sh"), col("b_sh"))
    val dupIds = cand
      .join(shinglesOf(incoming, "a_id", "a_sh"), "a_id")
      .join(shinglesOf(reference, "b_id", "b_sh"), "b_id")
      .filter(inter * den >= uni * num)
      .select(col("a_id").as("doc_id"))
      .distinct()
    incoming.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** 63-bit SimHash over distinct tokens — one BIGINT per document, computed
    * row-locally with HOF folds (63 bits keeps the signature positive; the
    * lost bit costs ~1.6% of hamming resolution). Static per-bit masks keep
    * every shift a literal, so the whole expression codegens. */
  def simhash(text: Column): Column = {
    val hashes = transform(array_distinct(TextOps.tokens(text)), t => xxhash64(t))
    val bitCols = (0 until 63).map { b =>
      val vote = aggregate(hashes, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1))
      when(vote >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce((a, c) => a.bitwiseOR(c))
  }

  /** q47's pair surface: documents with IDENTICAL distinct-token sets,
    * with the measured hamming distance between their simhash signatures
    * (0 by the sketch's defining invariant — the gate oracle pins exactly
    * that, so the hamming column stays MEASURED from the sigs, never
    * hard-coded). tkey (one long) is the equi-join key; the exact tokset
    * equality stays as a post-join verification filter, so the shuffle
    * join sorts/compares 8-byte keys and the array comparison runs only
    * on same-hash candidates. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"), simhash(col("text")).as("sig"),
        sort_array(array_distinct(TextOps.tokens(col("text")))).as("tokset"))
      .withColumn("tkey", xxhash64(col("tokset")))
    t.as("a").join(t.as("b"),
        col("a.tkey") === col("b.tkey") && col("a.doc_id") < col("b.doc_id") &&
          col("a.tokset") === col("b.tokset"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"),
        size(col("a.tokset")).as("n_tokens"))
  }

  /** Cross-source passage overlap — the provenance/contamination matrix:
    * which sources share verbatim 8-gram passages with which (mirror
    * sites, syndication, template families — the source-level view the
    * doc-level dedup tiers don't aggregate). Unit is the distinct
    * (source, shingle) census — ONE scan + one explode, partial-agg'd
    * before its shuffle; the self-join on shingle then fans at most
    * |sources|² per shingle (sources are few; a boilerplate shingle
    * present everywhere costs sources², not corpus²). Jaccard over
    * per-source shingle-set sizes is a floor-quantized rational. */
  def crossSourceOverlap(docs: DataFrame, n: Int = 8): DataFrame = {
    // three consumers (sizes census + both self-join sides) — cut so the
    // corpus explode+distinct runs once
    val f = docs
      .select(col("source"), explode(TextOps.shingles(col("text"), n)).as("sh"))
      .distinct()
      .cutLineage()
    val ns = f.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = f.as("x")
      .join(f.as("y"), col("x.sh") === col("y.sh") &&
        col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val jac = col("n_shared").cast("double") /
      (col("n_a").cast("double") + col("n_b").cast("double") -
        col("n_shared").cast("double"))
    shared
      .join(broadcast(ns.select(col("source").as("source_a"), col("n").as("n_a"))),
        "source_a")
      .join(broadcast(ns.select(col("source").as("source_b"), col("n").as("n_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (floor(jac * 1e6 + 0.5) / 1e6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Duplicate-rate threshold curve — the dedup-policy sizing census:
    * how many near-dup pairs each Jaccard threshold would flag, so the
    * 0.7-vs-0.8 decision is made on measured pair counts rather than
    * folklore. One pair pass (the q45 capped O(n²) verification twin —
    * at scale the SAME census runs over q104's lossless prefix-filter
    * candidates or q46's LSH pairs) scored against every threshold by a
    * broadcast threshold table; the integer test inter·10 ≥ uni·thr
    * keeps the cut engine-exact. Thresholds with zero pairs still
    * report (left join + zero-fill — the q168 lesson). */
  def dupThresholdCurve(docs: DataFrame,
      thresholdTenths: Seq[Int] = Seq(3, 5, 7, 9)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = withShingles(docs)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
    val (inter, uni) = jaccardColsSorted(col("a.sh"), col("b.sh"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(inter.as("inter"), uni.as("uni"))
    val thrDf = thresholdTenths.map(t => Tuple1(t.toLong)).toDF("thr_tenths")
    val counts = pairs.crossJoin(broadcast(thrDf))
      .filter(col("inter") * 10 >= col("uni") * col("thr_tenths"))
      .groupBy(col("thr_tenths")).agg(count(lit(1)).as("n_pairs"))
    thrDf.join(counts, Seq("thr_tenths"), "left")
      .na.fill(0L, Seq("n_pairs"))
      .orderBy(col("thr_tenths"))
  }

  /** Cluster language purity — the dedup-safety audit: a near-dup
    * cluster whose members span LANGUAGES is usually a false merge
    * (boilerplate shingles, template pages) and keep-one dedup would
    * silently delete a language's copy. Census by distinct-language
    * count per cluster (1 = pure); rides [[connectedComponents]] and
    * the same partial-agg shapes as [[dedupRateBySource]] — the corpus
    * never self-joins here. */
  def clusterLangPurity(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs.select(col("a_id"), col("b_id")))
      .select(col("node").as("doc_id"), col("label").as("rep_id"))
    val perCluster = comp
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("lang")).as("n_langs"))
    val census = perCluster.groupBy(col("n_langs"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_members")).as("n_docs"))
    val tot = census.agg(sum(col("n_clusters")).as("c_tot"))
    census.crossJoin(broadcast(tot))
      .select(col("n_langs"), col("n_clusters"), col("n_docs"),
        (floor(col("n_clusters").cast("double") / col("c_tot").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("cluster_share"))
      .orderBy(col("n_langs"))
  }

  /** q154 oracle helper: the q45 list-comprehension shingle spelling
    * generalized to n tokens. */
  private def shingleSql(n: Int): String = {
    val chain = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"[$chain for i in range(1, greatest(len(t) - ${n - 2}, 1))]"
  }

  /** Quality-aware canonical selection over near-dup clusters — the
    * "keep best" dedup policy (vs q66's "keep min id"): each connected
    * component keeps the member with the highest score (here `n_chars`;
    * any scalar score column plugs in), ties broken on min doc_id so
    * the pick is total. The pick is a min/max-struct partial aggregation
    * over the component labeling — no window over cluster members, no
    * per-cluster sort — so a pathological mega-cluster costs one
    * combine-tree, not a single-partition sort (the q89 hot-key rule).
    * The component labeling itself rides [[connectedComponents]]
    * (pointer-doubling, candidate-bounded pairs). */
  def canonicalPick(docs: DataFrame, pairs: DataFrame,
      scoreCol: String = "n_chars"): DataFrame = {
    val comp = connectedComponents(pairs.select(col("a_id"), col("b_id")))
      .select(col("node").as("doc_id"), col("label").as("rep_id"))
    comp
      .join(docs.select(col("doc_id"),
        // rank on the micro-quantized grid so FRACTIONAL scores (e.g. a
        // quality score in [0,1]) order correctly — a bare long cast
        // truncated them all to 0, degenerating keep-best to keep-min-id;
        // for integer scores the x1e6 map is order-identical. Scores must
        // sit under ~9.2e12 (long overflow on the grid, ANSI throws).
        floor(col(scoreCol).cast("double") * 1e6 + lit(0.5)).cast("long")
          .as("s_rank"),
        col(scoreCol).cast("long").as("score")), Seq("doc_id"))
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("s_rank").as("r"), (-col("doc_id")).as("nid"),
          col("score").as("s"))).as("best"))
      .select(col("rep_id"), (-col("best.nid")).as("keep_id"),
        col("best.s").as("keep_chars"), col("n_members"))
      .orderBy(col("rep_id"))
  }

  /** Per-source dedup-rate report — the dataset-card provenance stat:
    * for each source, how many documents sit in a near-dup cluster, how
    * many survive a keep-the-representative dedup, and the duplicate
    * share. Rides the q66 component labeling (candidate-bounded pairs →
    * pointer-doubling components); the per-source numbers are one
    * left-join + partial-agg census — the corpus never self-joins here.
    * Rates are floor-quantized exact rationals. */
  def dedupRateBySource(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs.select(col("a_id"), col("b_id")))
      .select(col("node").as("doc_id"), col("label").as("rep_id"))
    docs.select(col("doc_id"), col("source"))
      .join(comp, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rep_id").isNotNull, 1L).otherwise(0L)).as("n_dup_members"),
        sum(when(col("rep_id").isNull || col("rep_id") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_dup_members"), col("n_kept"),
        (floor(col("n_dup_members").cast("double") / col("n_docs").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("dup_rate"))
      .orderBy(col("source"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q154: cross-source passage overlap matrix -------------------------
    // Distinct (source, 8-shingle) census, pair join, quantized Jaccard;
    // the oracle replays the shingle comprehension and both censuses.
    QueryDef(
      "q154_source_overlap",
      (s, d) => crossSourceOverlap(Tables.documents(s, d)),
      Some(s"""WITH tt AS (
             |  SELECT source, string_split(text, ' ') AS t FROM documents),
             |f AS MATERIALIZED (
             |  SELECT DISTINCT source, sh FROM (
             |    SELECT source, unnest(${shingleSql(8)}) AS sh
             |    FROM tt WHERE len(t) >= 8)),
             |ns AS (SELECT source, count(*) AS n FROM f GROUP BY 1),
             |p AS (
             |  SELECT x.source AS source_a, y.source AS source_b,
             |    count(*) AS n_shared
             |  FROM f x JOIN f y ON y.sh = x.sh AND x.source < y.source
             |  GROUP BY 1, 2)
             |SELECT p.source_a, p.source_b,
             |  CAST(p.n_shared AS BIGINT) AS n_shared,
             |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
             |  floor(CAST(p.n_shared AS DOUBLE)
             |        / (CAST(na.n AS DOUBLE) + CAST(nb.n AS DOUBLE)
             |           - CAST(p.n_shared AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS jaccard
             |FROM p
             |JOIN ns na ON na.source = p.source_a
             |JOIN ns nb ON nb.source = p.source_b
             |ORDER BY p.source_a, p.source_b""".stripMargin)),

    // ---- q44: exact deduplication ------------------------------------------
    QueryDef(
      "q44_dedup_exact",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"text").as("n_distinct_text"),
          countDistinct(TextOps.fingerprint($"text")).as("n_distinct_fp"))
      },
      Some("""SELECT count(*) AS n_docs,
             |  count(DISTINCT text) AS n_distinct_text,
             |  count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_distinct_fp
             |FROM documents""".stripMargin)),

    // ---- q45: n-gram Jaccard near-dup pairs (all-pairs verification) -------
    // Integer-exact threshold test (5·inter ≥ 4·union ⇔ J ≥ 0.8): no float
    // comparison can disagree between engines.
    QueryDef(
      "q45_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        // doc_id < 2000 bounds the O(n²) verification baseline (covers the
        // whole corpus at the sf0.01 gate; the at-scale path is q46's LSH).
        val sh = withShingles(Tables.documents(s, d).filter($"doc_id" < 2000))
          .select($"doc_id", array_sort($"sh").as("sh"))
        val (inter, uni) = jaccardColsSorted($"a.sh", $"b.sh")
        sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
            inter.as("inter"), uni.as("uni"))
          .filter($"inter" * 5 >= $"uni" * 4)
          .orderBy($"a_id", $"b_id")
      },
      Some(s"""WITH s AS (
             |  SELECT doc_id, t,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |        WHERE doc_id < 2000)
             |  WHERE len(t) >= 3)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  len(list_intersect(a.sh, b.sh)) AS inter,
             |  len(list_distinct(list_concat(a.sh, b.sh))) AS uni
             |FROM s a JOIN s b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh)) * 5 >= len(list_distinct(list_concat(a.sh, b.sh))) * 4
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- q208: duplicate-rate threshold curve ------------------------------
    // Pair counts per Jaccard threshold over the capped pair census
    // (doc_id < 2000 — the q45 twin bound); the oracle replays the
    // shingles, the pair join, the integer threshold tests, and the
    // zero-fill.
    QueryDef(
      "q208_dup_threshold_curve",
      (s, d) => {
        import s.implicits._
        dupThresholdCurve(Tables.documents(s, d).filter($"doc_id" < 2000))
      },
      Some(s"""WITH s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |        WHERE doc_id < 2000)
             |  WHERE len(t) >= 3),
             |p AS (
             |  SELECT len(list_intersect(a.sh, b.sh)) AS inter,
             |    len(list_distinct(list_concat(a.sh, b.sh))) AS uni
             |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
             |thr AS (SELECT unnest([3, 5, 7, 9]) AS thr_tenths),
             |c AS (
             |  SELECT t.thr_tenths, CAST(count(*) AS BIGINT) AS n_pairs
             |  FROM p, thr t WHERE p.inter * 10 >= p.uni * t.thr_tenths
             |  GROUP BY 1)
             |SELECT CAST(t.thr_tenths AS BIGINT) AS thr_tenths,
             |  CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs
             |FROM thr t LEFT JOIN c USING (thr_tenths)
             |ORDER BY thr_tenths""".stripMargin)),

    // ---- q104: prefix-filtered EXACT set-similarity join -------------------
    // Same truth as q45 (J ≥ 0.8 shingle pairs) through a completely
    // different plan: All-Pairs prefix filtering instead of the O(n²) pair
    // join — so the gate verifies the filter is LOSSLESS against the
    // uncapped brute-force oracle, the same way q46's gate verifies LSH.
    // Unlike q45 there is no doc_id cap: the prefix join IS the scale path.
    QueryDef(
      "q104_setsim_prefix_join",
      // NOTE (r14): a materializing repartition before the mandated sort
      // (the q46 sampler-dedup pattern) was measured and REVERTED here —
      // q104's pre-sort tail is only ~1.8 core-s (the expansion SMJs sit
      // directly above their own exchanges), so deduping it doesn't pay
      // for the extra pair-table exchange at bench scale.
      (s, d) => prefixJaccardPairs(Tables.documents(s, d), tNum = 4, tDen = 5)
        .orderBy(col("a_id"), col("b_id")),
      // headline: the uncapped exact-at-scale set-sim join is timed at
      // bench SF so the r7 salted-census rewrite stays regression-visible.
      headline = true,
      oracle = Some(s"""WITH s AS (
             |  SELECT doc_id, t,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  len(list_intersect(a.sh, b.sh)) AS inter,
             |  len(list_distinct(list_concat(a.sh, b.sh))) AS uni
             |FROM s a JOIN s b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh)) * 5 >= len(list_distinct(list_concat(a.sh, b.sh))) * 4
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- q104b: bucket-local EXACT set-similarity join (r12) ---------------
    // Same truth as q104 through the tier that survives the dense regime:
    // prefix-hash bucket replication + in-bucket exactly-once verification
    // (prefixBucketLocalCore). The gate pins the tier LOSSLESS against an
    // independent oracle — the inverted shingle→doc spelling (q46's), which
    // scales past the gate SF unlike q104's all-pairs form.
    QueryDef(
      "q104b_setsim_bucket_local",
      (s, d) => prefixJaccardPairs(Tables.documents(s, d), tNum = 4, tDen = 5,
        bucketLocalVerify = true)
        .orderBy(col("a_id"), col("b_id")),
      // NOT headline: this is the DENSE-regime tier — at the bench's
      // sparse 1× scale its corpus × prefix replication is pure overhead
      // (~8-20 s against the default tier's 3 s), so benching it would
      // measure the wrong regime; NearDupScale's honest ladder is its
      // performance instrument (SCALING §R12).
      headline = false,
      oracle = Some("""WITH s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cand AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s)
             |SELECT c.a_id, c.b_id, c.inter, sa.n + sb.n - c.inter AS uni
             |FROM cand c
             |JOIN sz sa ON sa.doc_id = c.a_id
             |JOIN sz sb ON sb.doc_id = c.b_id
             |WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- q46: MinHash + banded LSH (the at-scale dedup path) ---------------
    // Oracle-checked: 16×2 banding makes the J≥0.8 miss probability ~8·10⁻⁸,
    // so at gate scale the verified LSH output EQUALS the brute-force truth.
    // The oracle is the INVERTED shingle→doc join (unnest shingles, equi-join
    // on shingle, count shared = inter, union by inclusion–exclusion): cost ∝
    // shared shingles, not n² — it scales past the gate SF, unlike an
    // all-pairs spelling (and unlike q45, which is the deliberately-capped
    // brute-force baseline). DedupSpec additionally pins exact equality at
    // sf0.001. Output is the integer (inter, uni) evidence pair, so no float
    // can diverge cross-engine.
    QueryDef(
      "q46_minhash_lsh",
      // repartition BEFORE the mandated total sort (r14, the q104 note):
      // without it the sort's range-sampling job re-ran the whole verify
      // fan (the BHJ probe chain above the last aggregate exchange).
      (s, d) => minhashLshPairs(Tables.documents(s, d), 4, 5)
        .repartition(col("a_id"))
        .orderBy(col("a_id"), col("b_id")),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cand AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s)
             |SELECT c.a_id, c.b_id, c.inter, sa.n + sb.n - c.inter AS uni
             |FROM cand c
             |JOIN sz sa ON sa.doc_id = c.a_id
             |JOIN sz sb ON sb.doc_id = c.b_id
             |WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4
             |ORDER BY a_id, b_id""".stripMargin),
      headline = true),

    // ---- q66: near-dup clusters (pairs → components → representative) ------
    // The end-to-end dedup deliverable: every document that participates in
    // a J≥0.8 near-dup pair, labeled with its cluster representative
    // (min doc_id in the connected component). Keeping rows where
    // doc_id = rep_id (plus all unpaired docs) IS the deduplicated corpus.
    // Oracle: the q46 pair derivation wrapped in a recursive reachability
    // CTE — DuckDB computes min-reachable-id per node exactly.
    QueryDef(
      "q66_dedup_clusters",
      (s, d) => {
        val pairs = minhashLshPairs(Tables.documents(s, d), 4, 5)
          .select(col("a_id"), col("b_id"))
        connectedComponents(pairs)
          .select(col("node").as("doc_id"), col("label").as("rep_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node)
             |SELECT src AS doc_id, min(node) AS rep_id
             |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),

    // ---- q224: dedupCorpus end-to-end (r10 directive) -----------------------
    // The one-call deduplicated corpus — the tier's headline deliverable —
    // gate-checked as a COMPOSITION: q46 certifies the pairs and q66 the
    // components, but the collapse-aware label inheritance that stitches
    // them (rep-level CC + member mapping + the repN identity arm) only
    // runs inside dedupCorpus. Oracle: the q66 recursive-reachability CTE
    // with a survivor filter on top — a document survives iff it is in no
    // J≥0.8 component (unpaired) or is its component's min id.
    QueryDef(
      "q224_dedup_corpus",
      (s, d) => dedupCorpus(Tables.documents(s, d), 4, 5)
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |labels AS (SELECT src AS doc_id, min(node) AS rep_id
             |           FROM reach GROUP BY src)
             |SELECT d.doc_id
             |FROM documents d LEFT JOIN labels l USING (doc_id)
             |WHERE l.rep_id IS NULL OR l.rep_id = d.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- q224b: CAPPED dedupCorpus end-to-end (r11 directive) --------------
    // q224 certifies the uncapped contract; this pins the CAP semantics
    // cross-engine: identity groups larger than maxBucket shed ALL their
    // pairs (identity and cross) and survive UNDEDUPLICATED. The fixture's
    // texts are all distinct, so the query plants its own identity groups:
    // every doc_id ≡ 0 (mod 50) gains 5 byte-identical copies (group size
    // 6 > cap 4). The DuckDB oracle replays the shed EXACTLY because the
    // cap can only bind through identity groups here: maxBucket = 4 sits
    // strictly above the fixture's max distinct-text bucket occupancy
    // (bucketOccupancyHistogram / tools.BucketOccupancy — occupancy tops
    // out at the ≤3-member near-dup components; DedupSpec "q224b fixture
    // assumption" PINS that margin on the live sf0.01 fixture, so a
    // testdata regeneration that densifies near-dups fails with a named
    // invariant, not a hash mismatch), so capBuckets never fires
    // and byte-equality — which SQL can express — is the whole story: drop
    // over-cap members from the pair set before reachability, keep them
    // all as survivors.
    QueryDef(
      "q224b_dedup_corpus_capped",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") % 50 === 0)
          .select(col("text"),
            explode(sequence(lit(1L), lit(5L))).as("j"), col("doc_id"))
          .select((col("doc_id") + col("j") * 1000000L).as("doc_id"), col("text"))
        dedupCorpus(base.unionByName(planted), 4, 5, maxBucket = 4)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + j * 1000000 AS doc_id, text
             |  FROM documents, unnest(range(1, 6)) AS r(j)
             |  WHERE doc_id % 50 = 0),
             |oc AS (
             |  SELECT doc_id FROM corpus
             |  WHERE text IN (SELECT text FROM corpus GROUP BY text HAVING count(*) > 4)),
             |s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s
             |        WHERE doc_id NOT IN (SELECT doc_id FROM oc)),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |labels AS (SELECT src AS doc_id, min(node) AS rep_id
             |           FROM reach GROUP BY src)
             |SELECT c.doc_id
             |FROM corpus c LEFT JOIN labels l USING (doc_id)
             |WHERE l.rep_id IS NULL OR l.rep_id = c.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- q47: SimHash near-dup sketch --------------------------------------
    // Oracle-checked via the sketch's defining invariant: simhash is a pure
    // function of the distinct-token SET, so pairs with identical token sets
    // (an exact criterion DuckDB reproduces) must sit at hamming distance 0.
    // The engine-specific part (hamming between *near*-dups) stays spec-only:
    // DedupSpec checks collision/far-apart behavior on planted texts.
    QueryDef(
      "q47_simhash",
      (s, d) => simhashPairs(Tables.documents(s, d))
        .orderBy(col("a_id"), col("b_id")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_sort(list_distinct(string_split(text, ' '))) AS tokset
             |  FROM documents)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  0 AS hamming, len(a.tokset) AS n_tokens
             |FROM t a JOIN t b ON a.tokset = b.tokset AND a.doc_id < b.doc_id
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- q87: fuzzy incremental dedup vs a reference corpus ----------------
    // Reference = doc_id ≡ 0 (mod 10) (q71's split); incoming = the rest.
    // Survivors = incoming docs with NO reference near-dup at J ≥ 0.8.
    // Oracle = the exact cross-set inverted-index join (LSH only proposes;
    // verification decides — same equality argument as q46).
    QueryDef(
      "q87_fuzzy_refdedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        fuzzyReferenceDedup(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), 4, 5)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cand AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g
             |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |dup AS (
             |  SELECT DISTINCT c.a_id FROM cand c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4)
             |SELECT doc_id FROM documents
             |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT a_id FROM dup)
             |ORDER BY doc_id""".stripMargin)),

    // ---- q133: content-defined chunk dedup ---------------------------------
    // Boundary tokens by portable md5-mod-8, duplicated chunks shared by
    // ≥2 docs; the oracle replays tokenization, boundary flags, the
    // running chunk ids, the ordered reassembly, and the census.
    QueryDef(
      "q133_cdc_chunk_dedup",
      (s, d) => cdcChunkDups(Tables.documents(s, d), modulus = 8, minDocs = 2),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |tk AS (
             |  SELECT doc_id, i AS pos, a[i] AS tok
             |  FROM t, unnest(range(1, len(a) + 1)) AS r(i)),
             |f AS (
             |  SELECT doc_id, pos, tok,
             |    CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8 = 0
             |         THEN 1 ELSE 0 END AS b
             |  FROM tk),
             |c AS (
             |  SELECT doc_id, pos, tok,
             |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
             |  FROM f),
             |ch AS (
             |  SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS chunk
             |  FROM c GROUP BY 1, 2),
             |cen AS (
             |  SELECT chunk, CAST(count(*) AS BIGINT) AS n_occ,
             |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |  FROM ch GROUP BY 1)
             |SELECT chunk, n_occ, n_docs FROM cen
             |WHERE n_docs >= 2 ORDER BY n_occ DESC, chunk""".stripMargin),
      // headline: the per-doc running-sum window + chunk census is the
      // engine's one full-corpus window shape — bench-watched
      headline = true),

    // ---- q136: containment near-dup (asymmetric) ---------------------------
    // CDC-chunk candidates (≥ half the smaller doc's distinct chunks
    // shared) + exact shingle-containment verify at t = 1/2, directed
    // smaller → larger. The oracle replays the ENTIRE pipeline — this is
    // an approximate-candidate tier (q46-style), so its oracle mirrors
    // the algorithm, not an idealized all-pairs truth.
    QueryDef(
      "q136_containment_dedup",
      (s, d) => containmentPairs(Tables.documents(s, d), modulus = 8,
        tNum = 1, tDen = 2),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |tk AS (
             |  SELECT doc_id, i AS pos, a[i] AS tok
             |  FROM t, unnest(range(1, len(a) + 1)) AS r(i)),
             |f AS (
             |  SELECT doc_id, pos, tok,
             |    CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8 = 0
             |         THEN 1 ELSE 0 END AS b
             |  FROM tk),
             |c AS (
             |  SELECT doc_id, pos, tok,
             |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
             |  FROM f),
             |ch AS (
             |  SELECT DISTINCT doc_id, chunk FROM (
             |    SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS chunk
             |    FROM c GROUP BY 1, 2)),
             |nc AS (SELECT doc_id, count(*) AS nc FROM ch GROUP BY 1),
             |shared AS (
             |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS shared
             |  FROM ch x JOIN ch y ON x.chunk = y.chunk AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2),
             |cand AS (
             |  SELECT s.a_id, s.b_id
             |  FROM shared s
             |  JOIN nc na ON na.doc_id = s.a_id
             |  JOIN nc nb ON nb.doc_id = s.b_id
             |  WHERE s.shared * 2 >= least(na.nc, nb.nc)),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct([a[i] || ' ' || a[i+1] || ' ' || a[i+2]
             |                   for i in range(1, greatest(len(a) - 1, 1))]) AS s
             |  FROM t WHERE len(a) >= 3),
             |v AS (
             |  SELECT c.a_id, c.b_id,
             |    len(list_intersect(x.s, y.s)) AS inter,
             |    len(x.s) AS na, len(y.s) AS nb
             |  FROM cand c
             |  JOIN sh x ON x.doc_id = c.a_id
             |  JOIN sh y ON y.doc_id = c.b_id)
             |SELECT
             |  CASE WHEN na < nb OR (na = nb AND a_id < b_id) THEN a_id ELSE b_id END AS contained_id,
             |  CASE WHEN na < nb OR (na = nb AND a_id < b_id) THEN b_id ELSE a_id END AS container_id,
             |  inter, least(na, nb) AS n_contained, greatest(na, nb) AS n_container
             |FROM v WHERE inter * 2 >= least(na, nb) * 1
             |ORDER BY contained_id, container_id""".stripMargin)),

    // ---- q89: segment-level (sub-document) dedup ----------------------------
    // 16-token non-overlapping grid, keep-first semantics: a repeated
    // paragraph survives only at its min-(doc_id, chunk_id) occurrence;
    // docs are reassembled from surviving segments. Exact-duplicate
    // documents therefore keep ONE full copy (the min doc_id) and the
    // others lose every segment (n_kept = 0, empty text) — the oracle
    // checks both the counts and the reassembled text byte-for-byte.
    QueryDef(
      "q89_segment_dedup",
      (s, d) => segmentDedup(Tables.documents(s, d), segTokens = 16)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    len(string_split(text, ' ')) AS n
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, t, n,
             |    unnest(range(0, (n + 15) // 16)) AS chunk_id
             |  FROM t),
             |ch AS (
             |  SELECT doc_id, chunk_id,
             |    array_to_string(t[(chunk_id * 16 + 1):least(chunk_id * 16 + 16, n)], ' ') AS chunk
             |  FROM c),
             |k AS (
             |  SELECT doc_id, chunk_id, chunk,
             |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) AS occ
             |  FROM ch)
             |SELECT doc_id,
             |  count(*) AS n_segments,
             |  count(CASE WHEN occ = 1 THEN 1 END) AS n_kept,
             |  coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END, ' ' ORDER BY chunk_id), '') AS text_dedup
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- q107: exact duplicated-span removal (position-level dedup) --------
    // Any word 4-gram occurring >= 2 times corpus-wide (multiplicity counts
    // within-doc repeats too) marks its 4 token positions; positions merge
    // to maximal spans via gaps-and-islands, and clean_text drops covered
    // tokens. The oracle replays the census, the coverage, the island
    // arithmetic, and the token-level text rebuild — every output column is
    // integer or exact string, so the hash check is bit-for-bit.
    QueryDef(
      "q107_dup_spans",
      (s, d) => dupSpans(Tables.documents(s, d), n = 4, minCount = 2)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    len(string_split(text, ' ')) AS n
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 4], ' ') AS gram
             |  FROM (SELECT doc_id, t, unnest(range(0, n - 3)) AS pos
             |        FROM t WHERE n >= 4)),
             |census AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
             |dup AS (SELECT g.doc_id, g.pos FROM g JOIN census USING (gram)),
             |cov AS (
             |  SELECT DISTINCT doc_id, pos + u.r AS cpos
             |  FROM dup, (SELECT unnest(range(0, 4)) AS r) u),
             |isl AS (
             |  SELECT doc_id, cpos,
             |    cpos - row_number() OVER (PARTITION BY doc_id ORDER BY cpos) AS k
             |  FROM cov),
             |spans AS (
             |  SELECT doc_id, min(cpos) AS s, max(cpos) AS e
             |  FROM isl GROUP BY doc_id, k),
             |ss AS (
             |  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
             |  FROM spans GROUP BY doc_id),
             |toks AS (
             |  SELECT doc_id, pos, t[pos + 1] AS tok
             |  FROM (SELECT doc_id, t, unnest(range(0, n)) AS pos FROM t)),
             |cl AS (
             |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.pos) AS clean_text
             |  FROM toks tk
             |  WHERE NOT EXISTS (SELECT 1 FROM cov c
             |                    WHERE c.doc_id = tk.doc_id AND c.cpos = tk.pos)
             |  GROUP BY tk.doc_id)
             |SELECT t.doc_id,
             |  CAST(coalesce(ss.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(coalesce(ss.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             |  CAST(t.n AS BIGINT) AS n_tokens,
             |  CAST(coalesce(ss.dup_tokens, 0) * 1000 // greatest(t.n, 1) AS BIGINT)
             |    AS dup_permille,
             |  coalesce(cl.clean_text, '') AS clean_text
             |FROM t
             |LEFT JOIN ss ON ss.doc_id = t.doc_id
             |LEFT JOIN cl ON cl.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ---- q169: quality-aware canonical pick per dedup cluster --------------
    // q66's components with a "keep best" policy (max n_chars, min-id
    // tie-break); the oracle chains q66's exact reachability CTE into a
    // per-cluster deterministic rank.
    QueryDef(
      "q169_canonical_pick",
      (s, d) => {
        val pairs = minhashLshPairs(Tables.documents(s, d), 4, 5)
          .select(col("a_id"), col("b_id"))
        canonicalPick(Tables.documents(s, d), pairs)
      },
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |comp AS (SELECT src AS doc_id, min(node) AS rep_id
             |         FROM reach GROUP BY src),
             |sel AS (
             |  SELECT c.rep_id, c.doc_id, d.n_chars,
             |    row_number() OVER (PARTITION BY c.rep_id
             |      ORDER BY d.n_chars DESC, c.doc_id) AS rk,
             |    count(*) OVER (PARTITION BY c.rep_id) AS nm
             |  FROM comp c JOIN documents d USING (doc_id))
             |SELECT rep_id, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS keep_chars,
             |  CAST(nm AS BIGINT) AS n_members
             |FROM sel WHERE rk = 1 ORDER BY rep_id""".stripMargin)),

    // ---- q214: cluster language purity -------------------------------------
    // Distinct-language census over the q66 components; the oracle
    // chains the exact reachability CTE into the per-cluster lang
    // census and the share.
    QueryDef(
      "q214_cluster_lang_purity",
      (s, d) => {
        val pairs = minhashLshPairs(Tables.documents(s, d), 4, 5)
          .select(col("a_id"), col("b_id"))
        clusterLangPurity(Tables.documents(s, d), pairs)
      },
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |comp AS (SELECT src AS doc_id, min(node) AS rep_id
             |         FROM reach GROUP BY src),
             |pc AS (
             |  SELECT c.rep_id, CAST(count(*) AS BIGINT) AS n_members,
             |    CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
             |  FROM comp c JOIN documents d USING (doc_id)
             |  GROUP BY 1),
             |census AS (
             |  SELECT n_langs, CAST(count(*) AS BIGINT) AS n_clusters,
             |    CAST(sum(n_members) AS BIGINT) AS n_docs
             |  FROM pc GROUP BY 1)
             |SELECT n_langs, n_clusters, n_docs,
             |  floor(CAST(n_clusters AS DOUBLE) /
             |    CAST((SELECT sum(n_clusters) FROM census) AS DOUBLE)
             |    * 1e6 + 0.5) / 1e6 AS cluster_share
             |FROM census ORDER BY n_langs""".stripMargin)),

    // ---- q177: per-source dedup-rate report --------------------------------
    // Dataset-card provenance stat over q66's clusters; the oracle chains
    // the exact reachability CTE into a per-source census.
    QueryDef(
      "q177_dedup_rate_by_source",
      (s, d) => {
        val pairs = minhashLshPairs(Tables.documents(s, d), 4, 5)
          .select(col("a_id"), col("b_id"))
        dedupRateBySource(Tables.documents(s, d), pairs)
      },
      Some("""WITH RECURSIVE s AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM s),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |comp AS (SELECT src AS doc_id, min(node) AS rep_id
             |         FROM reach GROUP BY src)
             |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN c.rep_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup_members,
             |  CAST(sum(CASE WHEN c.rep_id IS NULL OR c.rep_id = d.doc_id
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  floor(CAST(sum(CASE WHEN c.rep_id IS NOT NULL THEN 1 ELSE 0 END)
             |          AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
             |    AS dup_rate
             |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
