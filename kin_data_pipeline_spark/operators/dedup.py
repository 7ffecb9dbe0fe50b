"""Deduplication operator library (the queries in ``queries/llmops.py`` are
oracle-checked instances of these). Four tiers, all shuffle-bounded:

1. exact            — hash groupBy on a content fingerprint
2. n-gram Jaccard   — shingle-postings join (never corpus×corpus)
3. MinHash + LSH    — banded signature bucket join, linear in corpus size
4. SimHash          — frequency-weighted bit votes; Hamming-bucket join

At 100 TB: every pair-forming join keys on shingle/band/bucket values, so
skew is governed by posting-list sizes — ``stopword_shingle_cap`` drops
degenerate postings (a shingle shared by half the corpus creates a
quadratic bucket; capping it bounds the worst key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kin_data_pipeline_spark.sources.catalog import frame_lineage

def fingerprint(col: Column | str, normalize: bool = True) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.trim(c))
    return F.md5(c)

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content fingerprint."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.asc(id_col))
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )

def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles via JVM higher-order functions (no UDF).

    Linear in document length: each evaluation splits the text once into a
    token array ``w``, and the ``size(w) - k + 1`` windows are zipped from ``k``
    shifted slices of it (``slice(w, j + 1, size(w) - k + 1)`` for j < k).
    No lambda body references the split — Catalyst does not share an
    outer expression into a ``lambdafunction``, so a per-window
    ``slice(split(text), i, k)`` re-splits the whole document once per
    window, quadratic in its length.

    Documents with fewer than ``k`` words yield an EMPTY array — the same
    semantics as the DuckDB oracles' ``range(1, len - k + 2)`` (empty when
    start > stop). Without the guard the slice length goes negative and
    ``slice`` aborts the job.
    """
    w = F.split(F.trim(F.col(col) if isinstance(col, str) else col), " ")
    n = F.size(w) - k + 1
    windows = F.arrays_zip(*[F.slice(w, j + 1, n) for j in range(k)])
    return F.when(
        F.size(w) >= k,
        F.array_distinct(
            F.transform(
                windows, lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(k)])
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

#: tokens per non-overlapping chunk for line-grain exact substring dedup —
#: the ONE declaration shared by the stats query (line_dedup_retention /
#: repeated_chunk_stats) and the release rewrite (models/corpus._clean), so
#: the audit and the transformation can never disagree on chunk geometry.
CHUNK_W = 8

def chunk_hashes(words_col: Column | str, chunk_w: int = CHUNK_W) -> Column:
    """md5 hashes of the non-overlapping ``chunk_w``-token chunks of a
    words array (tail tokens past the last full chunk excluded). JVM
    higher-order functions only; empty array for docs shorter than one
    chunk. The line/paragraph-grain unit of exact substring dedup
    (MassiveText/RefinedWeb shape)."""
    w = F.col(words_col) if isinstance(words_col, str) else words_col
    n_chunks = (F.size(w) / chunk_w).cast("long")
    return F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(1).cast("long"), n_chunks),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    F.slice(w, ((i - F.lit(1)) * chunk_w + 1).cast("int"), chunk_w),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

def shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    stopword_shingle_cap: int | None = None,
) -> DataFrame:
    """(doc, shingle) postings with per-doc shingle counts.

    ``stopword_shingle_cap`` drops shingles whose posting list exceeds the
    cap — the skew guard for pair-forming joins at scale.
    """
    sh = df.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, k).alias("sh")
    )
    post = sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    if stopword_shingle_cap is not None:
        freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        post = post.join(
            freq.filter(F.col("df") <= stopword_shingle_cap).select("s"),
            "s",
            "left_semi",
        )
    return post

def jaccard_pairs(
    postings: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Near-dup pairs by exact shingle Jaccard over the postings join."""
    a, b = postings.alias("a"), postings.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.withColumn("jaccard", jac).filter(jac >= threshold)

def jaccard_pairs_grouped(
    postings: DataFrame,
    threshold: float = 0.8,
    df_cap: int | None = 50,
    prefilter_skew: bool = False,
) -> DataFrame:
    """Near-dup pairs via grouped posting lists — the 100 TB scale path.

    Instead of a postings self-join (which evaluates the whole postings
    chain once per join side — shingle derivation dominates that cost),
    traverse postings ONCE: group each shingle's posting list with its
    document frequency in a single map-side-combined aggregation, drop
    lists longer than ``df_cap`` (the stopword/skew guard — identical
    semantics to ``shingle_postings(stopword_shingle_cap=df_cap)`` feeding
    ``jaccard_pairs``), and expand the ≤ cap·(cap−1)/2 within-list pairs
    with JVM higher-order functions. Two shuffles total (shingle groupBy,
    pair-count groupBy), both spill-capable.

    ``prefilter_skew=True`` adds a count-only pass + semi-join that drops
    degenerate shingles BEFORE any posting list is buffered — use it for
    adversarial corpora where a single shingle's posting list (df ≫ cap)
    would be too large even as a spilled aggregation buffer. It costs one
    extra traversal of the postings chain, so leave it off when the input
    is natural text whose worst df fits in an executor's spill budget.

    ``df_cap=None`` disables the cap: every co-occurring pair is formed —
    the EXACT all-pairs semantics of ``jaccard_pairs``, still in a single
    postings traversal. Only safe when the worst posting list fits an
    aggregation buffer (spillable, but the pair expansion is quadratic in
    the hottest shingle) — at open-web scale always pass a cap.
    """
    if prefilter_skew and df_cap is not None:
        freq = postings.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        postings = postings.join(
            freq.filter(F.col("df") <= df_cap).select("s"), "s", "left_semi"
        )
    return jaccard_pairs_from_lists(
        grouped_posting_lists(postings), threshold=threshold, df_cap=df_cap
    )


def within_list_pairs(list_col, payload) -> "F.Column":
    """Exploded within-list (a, b) pair column over a SORTED array column:
    for every i < j, emit ``payload(list[i], list[j])`` — the shared
    candidate-pair expansion of the LSH/posting-list family (Jaccard,
    containment, prefix-filtered, band-LSH, SemDeDup cells). Pure JVM
    higher-order functions: transform × slice builds the upper triangle,
    flatten + explode streams it — no UDF, no join, quadratic only in one
    list's length (callers cap or filter list sizes for skew).

    ``payload(x, y)`` must return a named struct; the exploded column is
    left unaliased so callers alias it themselves.
    """
    c = F.col(list_col) if isinstance(list_col, str) else list_col
    return F.explode(
        F.flatten(
            F.transform(
                c,
                lambda x, i: F.transform(
                    F.slice(c, i + 2, F.size(c)), lambda y: payload(x, y)
                ),
            )
        )
    )


def grouped_posting_lists(postings: DataFrame) -> DataFrame:
    """One grouped posting list per shingle, with its document frequency.

    This is the shared substrate of every grouped Jaccard variant: build
    (or cache) it once, then expand pairs at any ``df_cap``/threshold —
    the cap filter is applied on the ``df`` column downstream, so a single
    materialization serves both the exact and the skew-capped forms.
    """
    return postings.groupBy("s").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n_sh")))
        ).alias("docs"),
        F.count(F.lit(1)).alias("df"),
    )

def _pin_expansion_parallelism(df: DataFrame, *cols) -> DataFrame:
    """Pin cluster parallelism for a CPU-DENSE expansion stage (guide
    §2.5: size partitions to the work, not the bytes).

    Posting-list pair expansion and intersection verification produce and
    chew orders of magnitude more than their input bytes, so any
    byte-proportional partitioning — AQE coalescing with
    ``parallelismFirst=false`` (the session default since round 12), or a
    small static shuffle-partition count — would serialize them onto one
    core. An explicit NUMBERED repartition is exempt from AQE coalescing;
    the count derives from cores (the unit of CPU work) because these
    stages are compute-bound at every scale. Downstream same-key
    aggregations reuse the hash partitioning, so this replaces (not adds)
    the exchange that would exist anyway."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def pair_counts_from_lists(
    lists: DataFrame, df_cap: int | None = 50
) -> DataFrame:
    """Co-occurrence pair counts over ``grouped_posting_lists`` output:
    ``(doc_a, doc_b, n_common, na, nb)`` — the shared substrate every
    set-overlap score (Jaccard, containment) derives from with one more
    column expression."""
    if df_cap is not None:
        lists = lists.filter(F.col("df") <= df_cap)
    lists = _pin_expansion_parallelism(lists, "s")
    pair = within_list_pairs(
        "docs",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["n_sh"].alias("na"),
            y["n_sh"].alias("nb"),
        ),
    ).alias("p")
    # the pair aggregation is pinned too: pairs are mostly unique, so
    # map-side partial aggregation cannot shrink the stream and the
    # REDUCE side does the real hashing work — the explicit repartition
    # replaces (same keys, so the groupBy reuses it) the exchange AQE
    # would otherwise coalesce by its modest byte size
    expanded = _pin_expansion_parallelism(
        lists.select(pair), F.col("p.doc_a"), F.col("p.doc_b")
    )
    return (
        expanded
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("p.na").alias("na"),
            F.first("p.nb").alias("nb"),
        )
    )

def jaccard_pairs_from_lists(
    lists: DataFrame, threshold: float = 0.8, df_cap: int | None = 50
) -> DataFrame:
    """Pair expansion over ``grouped_posting_lists`` output (see
    ``jaccard_pairs_grouped`` for semantics and the scale contract)."""
    pairs = pair_counts_from_lists(lists, df_cap)
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.withColumn("jaccard", jac).filter(jac >= threshold)

def containment_pairs_from_lists(
    lists: DataFrame, threshold: float = 0.8, df_cap: int | None = 50
) -> DataFrame:
    """Asymmetric near-dup pairs: containment = |A∩B| / min(|A|,|B|).

    Catches one document CONTAINING another (quote farms, boilerplate
    wrappers, partial scrapes) that symmetric Jaccard under-scores when
    sizes differ: a 100-shingle doc fully inside a 1000-shingle doc has
    containment 1.0 but Jaccard 0.1. Same single-traversal grouped
    expansion and df-cap skew contract as the Jaccard form."""
    pairs = pair_counts_from_lists(lists, df_cap)
    cont = F.col("n_common") / F.least("na", "nb")
    return pairs.withColumn("containment", cont).filter(cont >= threshold)

def prefix_filter_jaccard_pairs(
    shingled: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """EXACT all-pairs Jaccard join with AllPairs/PPJoin prefix filtering —
    the published scalable form of the exact set-similarity join (Bayardo,
    Ma & Srikant, WWW'07; Chaudhuri, Ganti & Kaushik, ICDE'06).

    The uncapped postings expansion (``df_cap=None``) forms every
    co-occurring pair — quadratic in the hottest token and therefore
    unregisterable for open web. Prefix filtering recovers the EXACT
    result while indexing only each document's ``|r| - ceil(t*|r|) + 1``
    rarest tokens (global order = (document frequency, token), a total
    order): any pair with Jaccard >= t provably shares a token within both
    prefixes, so candidate generation touches only rare-token posting
    lists, then an intersection verification computes the true score.

    The threshold is a RATIONAL (num/den) so the prefix length is exact
    integer arithmetic — a float ``ceil(0.5 * n)`` can land on the wrong
    side of an IEEE representation error and silently shorten a prefix,
    which would drop qualifying pairs (an exactness bug, not a precision
    nit).

    Scale shape: one groupBy + one equi-join on the token key to attach
    frequencies (vocabulary-sized — NO broadcast hint, AQE owns it; see
    PLANS.md "Vocabulary-scale boundary"), one grouped expansion over
    prefix postings (bounded by rare-token df, not corpus df), a pair-level
    length filter (t*max(|a|,|b|) <= min(|a|,|b|)), and two doc_id
    equi-joins for verification. Returns (doc_a, doc_b, n_common, jaccard).
    """
    n_sh = F.size("shingles")
    post = shingled.select(
        "doc_id", n_sh.alias("n_sh"), F.explode("shingles").alias("s")
    )
    freq = post.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = post.join(freq, "s")
    return _prefix_filter_from_ranked(ranked, shingled, threshold_num, threshold_den)

def prefix_filter_jaccard_pairs_from_lists(
    lists: DataFrame,
    shingled: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """``prefix_filter_jaccard_pairs`` fed from an ALREADY-GROUPED posting
    list substrate (``grouped_posting_lists``: (s, docs, df)) — the
    frequency groupBy + token-key join the generic entry pays are already
    materialized there, so a pipeline that caches the lists (as the
    registered queries do) derives the ranked token stream by one explode
    and skips two shuffles."""
    ranked = lists.select(
        "s", F.col("df").alias("dfreq"), F.explode("docs").alias("d")
    ).select("s", "dfreq", F.col("d.doc_id").alias("doc_id"), F.col("d.n_sh").alias("n_sh"))
    return _prefix_filter_from_ranked(ranked, shingled, threshold_num, threshold_den)

def _prefix_filter_from_ranked(
    ranked: DataFrame,
    shingled: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    # L = n - ceil(num*n/den) + 1, all-integer
    prefix_len = (
        F.col("n_sh")
        - F.floor(
            (F.lit(threshold_num) * F.col("n_sh") + threshold_den - 1)
            / F.lit(threshold_den)
        ).cast("int")
        + 1
    )
    # per-doc rarity-ordered prefix WITH POSITIONS: posexplode over the
    # slice gives each prefix token its 1-based rank in the doc's global
    # (dfreq, s) order — the input to PPJoin's positional filter below
    pre = (
        ranked.groupBy("doc_id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(F.collect_list(F.struct("dfreq", "s"))).alias("ord"),
        )
        .select(
            "doc_id",
            "n_sh",
            F.posexplode(F.slice(F.col("ord"), F.lit(1), prefix_len)).alias(
                "p0", "t"
            ),
        )
        .select(
            "doc_id",
            "n_sh",
            (F.col("p0") + 1).alias("p"),
            F.col("t.dfreq").alias("dfreq"),
            F.col("t.s").alias("s"),
        )
    )
    # grouped pair events, carrying both positions and the token's global
    # order key (dfreq, s)
    ev_pair = within_list_pairs(
        "docs",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["n_sh"].alias("na"),
            y["n_sh"].alias("nb"),
            x["p"].alias("pa"),
            y["p"].alias("pb"),
        ),
    ).alias("e")
    events = (
        # pinned parallelism: the grouped expansion's OUTPUT (pair events)
        # dwarfs its input bytes — see _pin_expansion_parallelism
        _pin_expansion_parallelism(pre, "s")
        .groupBy("s")
        .agg(
            F.first("dfreq").alias("dfreq"),
            F.array_sort(
                F.collect_list(F.struct("doc_id", "n_sh", "p"))
            ).alias("docs"),
        )
        .select("s", "dfreq", ev_pair)
    )
    # PPJoin positional filter (Xiao, Wang, Lin & Yu, WWW'08): take each
    # pair's MINIMAL shared prefix token under the global order. All
    # shared tokens of the pair sort at-or-after it in BOTH docs (were an
    # earlier shared token ordered before it, that token would itself sit
    # inside both prefixes and be the generating minimum), so true overlap
    # <= 1 + min(na - pa, nb - pb). Require that bound to reach the
    # overlap threshold o_min = ceil(t/(1+t) * (na+nb)) — all-integer with
    # t = num/den: o_min = ceil(num*(na+nb) / (num+den)).
    cand = (
        events.groupBy(
            F.col("e.doc_a").alias("doc_a"), F.col("e.doc_b").alias("doc_b")
        )
        .agg(
            F.min_by(
                F.struct("e.pa", "e.pb", "e.na", "e.nb"), F.struct("dfreq", "s")
            ).alias("m")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("m.na").alias("na"),
            F.col("m.nb").alias("nb"),
            F.col("m.pa").alias("pa"),
            F.col("m.pb").alias("pb"),
        )
        # length filter: J >= t forces t*max <= min
        .filter(
            F.lit(threshold_den) * F.least("na", "nb")
            >= F.lit(threshold_num) * F.greatest("na", "nb")
        )
        # positional filter: suffix-overlap upper bound must reach o_min
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            >= F.floor(
                (
                    F.lit(threshold_num) * (F.col("na") + F.col("nb"))
                    + threshold_num
                    + threshold_den
                    - 1
                )
                / F.lit(threshold_num + threshold_den)
            )
        )
        .select("doc_a", "doc_b", "na", "nb")
    )
    full = shingled.select("doc_id", "shingles")
    # pinned parallelism for the verification stage: each candidate row
    # pays an array_intersect over two full shingle sets (CPU-dense, tiny
    # input bytes) — see _pin_expansion_parallelism
    v = _pin_expansion_parallelism(cand, "doc_a").join(
        full.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
        "doc_a",
    ).join(
        full.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    scored = v.select(
        "doc_a", "doc_b", inter.alias("n_common"), "na", "nb"
    ).filter(
        F.lit(threshold_den) * F.col("n_common")
        >= F.lit(threshold_num) * (F.col("na") + F.col("nb") - F.col("n_common"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
        ).alias("jaccard"),
    )

def minhash_signatures(
    postings: DataFrame, params: list[tuple[int, int]], prime: int = 2147483647
) -> DataFrame:
    """MinHash signature per doc from (a·h + b) mod p universal hashes.

    h is the first 8 md5 hex chars of the shingle (< 2^32); with a,b < 2^30
    every product stays under 2^62 — no 64-bit overflow.
    """
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    return postings.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % prime).alias(f"mh{i}")
            for i, (a, b) in enumerate(params)
        ]
    )

def lsh_candidates(signatures: DataFrame, bands: list[tuple[int, ...]]) -> DataFrame:
    """Banded LSH: docs agreeing on ANY full band become candidate pairs.

    Pair forming is a grouped bucket-list expansion keyed on
    ``(band_id, band_key)`` — the classic linear-shuffle LSH, but with one
    groupBy instead of a bucketed self-join, so the signature chain above
    is traversed once by construction (the join form re-evaluates it per
    side unless ReuseExchange happens to fire). Bucket occupancy is
    bounded by the band width, exactly as in the join form."""
    frames = []
    for bi, rows in enumerate(bands):
        frames.append(
            signatures.select(
                "doc_id",
                F.lit(bi).alias("band_id"),
                F.concat_ws(
                    ":", *[F.col(f"mh{r}").cast("string") for r in rows]
                ).alias("band_key"),
            )
        )
    all_bands = frames[0]
    for fr in frames[1:]:
        all_bands = all_bands.unionByName(fr)
    lists = all_bands.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    pair = within_list_pairs(
        "docs", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    ).alias("p")
    return lists.select(pair).select("p.doc_a", "p.doc_b").distinct()

def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Frequency-weighted SimHash signatures (±1 votes per token-hash bit)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("w"),
    )
    h = F.conv(F.substring(F.md5("w"), 1, max(4, bits // 4)), 16, 10).cast("long")
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))

def dedup_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Drop the higher-id member of every near-dup pair (single-pass
    canonicalization; for transitive clusters run to fixpoint or accept the
    standard one-round approximation used by large-scale pipelines)."""
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")

def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Transitive near-dup clusters: min-label propagation to fixpoint.

    Pair generation (Jaccard/LSH/cosine) emits edges; the dedup *decision*
    needs the transitive closure — A~B and B~C put all three in one cluster
    even if A and C never pair. Returns ``(node, cluster_id)`` with
    ``cluster_id`` = the minimum node id reachable, for every node incident
    to an edge.

    Each round is one linear shuffle (edge join + min-groupBy) and
    convergence takes O(component diameter) rounds — near-dup components
    are shallow (dup clusters are quasi-cliques), so 3–5 rounds in
    practice. ``localCheckpoint`` truncates the iterative lineage so the
    plan does not re-expand per round. For graphs whose diameter may
    exceed ``max_iters`` (adversarial chains through shared boilerplate),
    use ``connected_components_star`` — O(log n) rounds independent of
    diameter. Exhausting ``max_iters`` without reaching the fixpoint
    raises rather than silently returning partial labels.

    The per-round convergence probe is a count on a 1-row-early-exit
    anti-condition — the aggregated-probe exception to the no-driver-loop
    rule (same class as the engine's high-watermark read).
    """
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    for _ in range(max_iters):
        neighbor = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "cluster_id")
        # lazy checkpoint: the convergence probe below is the first action,
        # so it materializes the checkpoint in the SAME job — one job per
        # round instead of two (eager would run a materialization job, then
        # the probe would scan the checkpointed data again).
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster_id") < F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"label propagation did not converge in {max_iters} rounds — the "
        "component diameter exceeds the budget; use connected_components_star"
    )

# --- large-star / small-star connected components ---------------------------
# Plain label propagation (above) needs O(component diameter) rounds — fine
# for quasi-clique near-dup clusters, quadratic-ish wall-clock on adversarial
# chain components. The star-contraction alternation (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14 — public algorithm)
# halves path lengths every alternation, so rounds are O(log n) regardless
# of diameter. Both operators are one groupBy-min + one equi-join per round:
# the same linear-shuffle primitives, never a cross join.

def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u emit (m, x) for every neighbor x > u, where m is the
    minimum of u's neighborhood (incl. u). Output edges always (lo, hi).

    The per-neighborhood minimum is a window over the node key, NOT a
    groupBy + self-join: both need the same hash partitioning on the node,
    but the window computes and attaches the minimum in ONE exchange where
    the aggregate-then-join form costs three (group, plus both join
    sides) — at sf0.1 this halved the per-round wall-clock of the
    alternation loop. Skew profile is unchanged (a partition holds whole
    neighborhoods under either form).

    No distinct here: the duplicates a shared minimum produces are
    absorbed by _small_star's min-window (duplicate-insensitive) and
    canonicalized by its final distinct — dropping the exchange saves one
    more shuffle per alternation round.
    """
    sym = edges.select("lo", "hi").unionByName(
        edges.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    w = Window.partitionBy("lo")
    return (
        sym.withColumn("m", F.least("lo", F.min("hi").over(w)))
        .filter(F.col("hi") > F.col("lo"))
        .select(F.col("m").alias("lo"), "hi")
        .filter(F.col("lo") != F.col("hi"))
    )

def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u emit (m, x) for every strictly-smaller neighbor x and
    for u itself, where m is u's minimum smaller neighbor.

    Same one-exchange window shape as ``_large_star``. The self-edge
    (m, u) is emitted once per (u, x) row instead of once per u — the
    duplicates are absorbed by the final distinct, which the contract
    needs anyway (star edges must be a set for the convergence probe's
    exactly-one-edge-per-member test)."""
    sym = edges.select("lo", "hi").unionByName(
        edges.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    smaller = sym.filter(F.col("hi") < F.col("lo")).select(
        F.col("lo").alias("u"), F.col("hi").alias("x")
    )
    w = Window.partitionBy("u")
    with_min = smaller.withColumn("m", F.min("x").over(w))
    to_min = with_min.select(F.col("m").alias("lo"), F.col("x").alias("hi"))
    self_to_min = with_min.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
    return (
        to_min.unionByName(self_to_min)
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )

def _canonical_edges(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """The distinct ``(lo, hi)`` edge set, self-loops kept, behind ONE
    eager checkpoint: the single evaluation of the caller's edge lineage
    (for near-dup pairs, the whole shingle → posting → pair expansion).
    The contraction input and the self-loop nodes both derive from it, so
    nothing downstream reads ``edges`` again. Rows with a null endpoint are
    dropped: ``least``/``greatest`` skip nulls and would turn them into
    self-loops.

    The checkpoint hides ``edges`` and the contraction from every plan
    built on it, so one contraction round over the un-checkpointed edges is
    recorded for the plan fingerprint (``frame_lineage``): a change to the
    caller's edges, to their canonical form or to ``_large_star`` /
    ``_small_star`` still changes the fingerprint of the query."""
    canon = (
        edges.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .select(
            F.least(a_col, b_col).alias("lo"), F.greatest(a_col, b_col).alias("hi")
        )
        .distinct()
    )
    frame_lineage(
        edges.sparkSession,
        "star_contraction",
        lambda: _small_star(_large_star(canon.filter(F.col("lo") != F.col("hi")))),
    )
    return canon.localCheckpoint(eager=True)

def _star_contraction(canon: DataFrame, max_iters: int) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star to the star-forest fixpoint over
    ``_canonical_edges`` output (self-loops are dropped here).

    Returns (star_edges, rounds). Convergence is a direct star-forest
    property probe — the lo (root) and hi (member) node sets are disjoint
    and every member appears in exactly one edge — which is provably the
    alternation's fixpoint, so the loop stops the round it is reached (an
    edge-set fingerprint would need one extra confirming alternation).
    One 1-row aggregate per round, the same aggregated-probe class as
    label propagation's early exit.
    """
    e = canon.filter(F.col("lo") != F.col("hi"))
    rounds = 0
    for _ in range(max_iters):
        # lazy checkpoint — the convergence aggregate is the first action,
        # so materialization and probe share one job per round.
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        roles = e.select(
            F.col("lo").alias("node"), F.lit(1).alias("l"), F.lit(0).alias("h")
        ).unionByName(
            e.select(F.col("hi").alias("node"), F.lit(0).alias("l"), F.lit(1).alias("h"))
        )
        row = (
            roles.groupBy("node")
            .agg(F.sum("l").alias("nl"), F.sum("h").alias("nh"))
            .agg(
                F.max("nh").alias("max_h"),
                F.sum(((F.col("nl") > 0) & (F.col("nh") > 0)).cast("int")).alias("both"),
            )
            .first()
        )
        if row["max_h"] is None or (row["max_h"] <= 1 and row["both"] == 0):
            break
    else:
        # exhausting max_iters without the star-forest probe passing means
        # the intermediate edges are NOT (root, member) pairs — emitting
        # them would silently fracture cluster labels. Same loud-failure
        # contract as connected_components' iteration cap.
        raise RuntimeError(
            f"star contraction did not converge within {max_iters} rounds"
        )
    return e, rounds

def connected_components_star(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components via star contraction: O(log n) rounds.

    Same contract as ``connected_components`` — returns
    ``(node, cluster_id)`` with ``cluster_id`` the minimum node id in the
    component, for every node incident to an edge — but converges
    logarithmically on long-chain components where label propagation is
    O(diameter). Prefer this form when the duplicate graph's shape is
    unknown (open-web corpora produce adversarial chains through
    boilerplate overlap).

    ``edges`` is evaluated once, by the eager ``_canonical_edges``
    checkpoint; the returned frame's plan reads only checkpoints, so a
    caller that writes it does not re-run the edge lineage.
    """
    canon = _canonical_edges(edges, a_col, b_col)
    stars, _ = _star_contraction(canon, max_iters)
    # Fixpoint is a star forest: every edge is (component_min, node).
    members = stars.select(F.col("hi").alias("node"), F.col("lo").alias("cluster_id"))
    roots = stars.select(
        F.col("lo").alias("node"), F.col("lo").alias("cluster_id")
    ).distinct()
    labeled = members.unionByName(roots).distinct()
    # label-prop contract parity: a node whose ONLY edges are self-loops is
    # still "incident to an edge" and labels itself. The contraction filters
    # self-loops, so re-attach such nodes as singleton roots — anti-joined
    # against the labeled set, because a node with BOTH a self-loop and a
    # real edge already carries its component label. Read from the same
    # checkpoint as the contraction (already distinct), never from ``edges``.
    loops = (
        canon.filter(F.col("lo") == F.col("hi"))
        .select(F.col("lo").alias("node"), F.col("lo").alias("cluster_id"))
        .join(labeled.select("node"), "node", "left_anti")
    )
    return labeled.unionByName(loops)
