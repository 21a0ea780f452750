"""Block-max pruned BM25 top-k (SURVEY.md §2.5 R8), all JVM-side.

The reference only *hints* at this ("need to pre-compute the upper/max
threshold", reference src/invertedIndex.py:308-311 — its DAAT path
:305-492 is unfinished). Every block of the inline-dl index
(postings_blocked(..., ds=doc_stats)) carries block_max_tf and
block_min_dl, so a per-block score upper bound

    ub(β) = qtf · idf · sat(block_max_tf, block_min_dl)

is pure column math (sat is monotone ↑ in tf and ↓ in dl, so ub bounds
every posting in the block). Serving is three layers:

1. champion θ floor (_champion_keys / _theta_floor): exact-score only
   the highest-ub blocks per qid; the k-th best partial sum is a LOWER
   bound of the true k-th best score, so at least k docs reach θ0;
2. MaxScore (wand_topk_maxscore): per qid, the query terms whose summed
   whole-term bounds stay below θ0 are non-essential — no doc touching
   only them can reach the top-k — so their lists contribute only
   through a candidate semi-join (at block granularity for long lists),
   and only the essential lists are scored exhaustively;
3. topk_auto: the cost-based pick the engine serves with — MaxScore for
   shallow k on a large corpus, exhaustive scoring of the same blocked
   index (query.bm25_topk_from_index) otherwise.

Both branches are rank- and score-identical to exhaustive TAAT
(property-tested in tests/test_wand.py, oracle-gated as
wand_topk_maxscore, wand_topk_trec and bm25_topk_auto*). The 2e-6 prune
margin exceeds the 1e-6 rounding quantum of the rank contract, so
rounded ties are never pruned.

At 10^12 turns: block metadata is ~1/POSTING_BLOCK of the index and
rides in the same rows, champion selection holds state constant in
corpus size, and stopword-hot terms have low idf → small bounds → they
fall into the non-essential set first, which is exactly the skew the
north rule calls out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from .query import _topk

_PRUNE_MARGIN = 2e-6  # > 1e-6 rounding quantum of the rank contract


def _n_ranges(n_docs: int, salt_buckets: int | None) -> int:
    """Number of salt ranges `_range_col` can produce — the frozen-span
    geometry of conf.salt_buckets_for (explicit bucket counts resolve
    to themselves; None derives from SALT_DOC_SPAN)."""
    from ..conf import salt_buckets_for
    return salt_buckets_for(max(1, n_docs), salt_buckets)


def _range_col(index_dl: DataFrame, n_docs: int, salt_buckets: int | None) -> F.Column:
    if "salt" in index_dl.columns:
        return F.col("salt").cast("int")
    if salt_buckets is None:
        from ..conf import SALT_DOC_SPAN
        span = SALT_DOC_SPAN
    else:
        span = max(1, (n_docs + salt_buckets - 1) // salt_buckets)
    return (F.col("first_doc_id") / span).cast("int")


def _block_ub(n_docs: int, avgdl: float, k1: float, b: float) -> F.Column:
    """Per-block BM25 score upper bound as a column expression:
    qtf · idf · sat(block_max_tf, block_min_dl). sat is monotone ↑ in
    tf and ↓ in dl, so this bounds every posting in the block."""
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - dfc + 0.5) / (dfc + 0.5))
    bmax = F.col("block_max_tf").cast("double")
    return (F.col("qtf") * idf * bmax * (k1 + 1.0)
            / (bmax + k1 * (1.0 - b + b * F.col("block_min_dl") / F.lit(avgdl))))


def _block_meta(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                avgdl: float, k1: float, b: float, salt_buckets: int) -> DataFrame:
    """NARROW per-block metadata for query terms — no posting arrays
    touched. `_ub` = per-block score upper bound, pure column math (the
    broadcast term-dict lookup of the north rule, extended with the
    block-max saturation bound)."""
    return (
        index_dl.join(F.broadcast(qterms), "term", "inner")
        .select("qid", "qtf", "term", "df", "first_doc_id",
                _range_col(index_dl, n_docs, salt_buckets).alias("_range"),
                _block_ub(n_docs, avgdl, k1, b).alias("_ub"))
    )


def _default_champions(k: int) -> int:
    """Enough champion blocks that the pass almost surely covers ≥ k
    distinct docs even when high-ub blocks are tiny (a rare term whose
    per-salt runs hold a single posting still yields a θ floor — the
    exact case where pruning pays most). Champion cost is bounded by
    champion_blocks × block postings per qid, all JVM-side."""
    return max(16, 2 * ((k + 127) // 128) + 8)


def _champion_keys(meta: DataFrame, champion_blocks: int,
                   n_ranges: int) -> DataFrame:
    """Champion block keys (qid, qtf, term, first_doc_id), selected with
    state bounded CONSTANT in corpus size. A naive
    ``Window.partitionBy("qid")`` over the raw block metadata funnels
    every (query term × block) row of a qid — ~10^8 rows for a stopword
    at 10^12 docs — through one reducer. With span-derived salting even
    the per-(term, range) run maxima grow linearly with the corpus
    (#salt-ranges = ceil(n_docs / span)), so a two-level scheme still
    leaves an unbounded window. Instead:

    level 1: best block per (qid, term, COARSE range span) via a plain
             aggregation (map-side partial max; no window, no skew).
             The coarse span groups G = ceil(n_ranges /
             champion_blocks) consecutive salt ranges, so each (qid,
             term) contributes ≤ champion_blocks rows REGARDLESS of
             corpus size;
    level 2: global top-C per qid over those maxima — the only
             qid-partitioned window, over ≤ #query-terms ×
             champion_blocks NARROW rows per qid, constant in corpus
             size.

    Restricting champions to ≤ 1 block per (term, coarse span) is
    sound: the champion pass derives a score LOWER bound from whatever
    block subset it scores, so ANY champion choice yields a valid θ
    floor — subsetting can only (marginally) weaken pruning, never
    correctness (property-gated: salted ≡ unsalted ≡ exhaustive). When
    n_ranges ≤ champion_blocks the coarse span is a single range and
    the selection is identical to the former per-run scheme."""
    coarse_span = max(1, -(-n_ranges // max(1, champion_blocks)))
    run_best = (meta.groupBy("qid", "qtf", "term",
                             (F.col("_range") / coarse_span).cast("long")
                             .alias("_cspan"))
                .agg(F.max(F.struct("_ub", "first_doc_id")).alias("m"))
                .select("qid", "qtf", "term",
                        F.col("m._ub").alias("_ub"),
                        F.col("m.first_doc_id").alias("first_doc_id")))
    w_c = Window.partitionBy("qid").orderBy(F.desc("_ub"), "term", "first_doc_id")
    return (run_best.withColumn("_cr", F.row_number().over(w_c))
            .where(F.col("_cr") <= champion_blocks)
            .select("qid", "qtf", "term", "first_doc_id"))


def _theta_floor(index_dl: DataFrame, meta: DataFrame, n_docs: int,
                 avgdl: float, k: int, k1: float, b: float,
                 champion_blocks: int,
                 salt_buckets: int | None = None) -> DataFrame:
    """Champion-block pass: exact-score only the ``champion_blocks``
    highest-ub blocks per qid (a few hundred postings — plain explode +
    groupBy, JVM-side). A doc's partial sum over a block subset is a
    LOWER bound of its true score, so the k-th best such bound
    ``_theta0`` is ≤ the true k-th best score: a sound global θ floor
    with ≥ k docs known to reach it. Empty (no row for a qid) when the
    pass covers < k docs — callers treat that as 'no pruning'."""
    champ = index_dl.join(
        F.broadcast(_champion_keys(meta, champion_blocks,
                                   _n_ranges(n_docs, salt_buckets))),
        ["term", "first_doc_id"])
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - dfc + 0.5) / (dfc + 0.5))
    pe = champ.select("qid", "qtf", idf.alias("_idf"),
                      F.explode("postings").alias("p"))
    tf = F.col("p.tf").cast("double")
    sat = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * F.col("p.dl") / F.lit(avgdl)))
    lb = (pe.select("qid", F.col("p.doc_id").alias("doc_id"),
                    (F.col("qtf") * F.col("_idf") * sat).alias("partial"))
          .groupBy("qid", "doc_id").agg(F.sum("partial").alias("_lb")))
    w_k = Window.partitionBy("qid").orderBy(F.desc("_lb"), "doc_id")
    return (lb.withColumn("_rk", F.row_number().over(w_k))
            .where(F.col("_rk") == k).select("qid", F.col("_lb").alias("_theta0")))


def wand_topk_maxscore(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                       avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                       b: float = BM25_B, salt_buckets: int | None = None,
                       champion_blocks: int | None = None,
                       probe_max_candidates: int = 100_000,
                       block_skip_min_df: int = 50_000) -> DataFrame:
    """MaxScore-strategy top-k BM25, all JVM-side. Rank/score-identical
    to bm25_topk (property- and oracle-gated).

    Per qid, query terms split by whole-term upper bound U_t = max block
    ub against the champion θ floor: the NON-ESSENTIAL set is the
    largest ascending-U prefix with Σ U_t < θ0 − margin. A doc touching
    only non-essential terms is bounded by that sum, so it cannot reach
    the top-k; every candidate therefore appears in some ESSENTIAL
    term's postings. Essential lists are scored exhaustively; the
    non-essential (typically hot, low-idf) lists contribute only via a
    candidate semi-join — their tails are never aggregated. The
    canonical hot∧rare query thus reduces to: score the rare list, then
    probe the hot list for just those docs. All-hot queries degrade
    gracefully to the exhaustive plan (every term essential, no join).

    Driver-side work is one U_t row per (qid, query term) and one θ row
    per qid — bounded by the query set, never by the corpus."""
    spark = index_dl.sparkSession
    if champion_blocks is None:
        champion_blocks = _default_champions(k)
    meta = _block_meta(index_dl, qterms, n_docs, avgdl, k1, b, salt_buckets)
    # per-(qid, term) whole-term upper bound U_t: a plain aggregation
    # with map-side partials — never a per-qid window over the raw
    # block rows. Driver rows bounded by the query set.
    stats = (meta.groupBy("qid", "term", "qtf")
             .agg(F.max("_ub").alias("u"), F.first("df").alias("df"))
             .collect())
    theta: dict[str, float] = {}
    if champion_blocks and stats:
        # champion selection + θ floor run the bounded-window path
        # (_champion_keys / _theta_floor); θ rows collected are ≤ one
        # per qid.
        theta = {r.qid: r._theta0 for r in
                 _theta_floor(index_dl, meta, n_docs, avgdl, k, k1, b,
                              champion_blocks, salt_buckets).collect()}
    by_qid: dict[str, list] = {}
    for r in stats:
        by_qid.setdefault(r.qid, []).append(r)
    ess_rows, non_rows = [], []
    for qid, rows in by_qid.items():
        th = theta.get(qid)
        ess_q, non_q = [], []
        if th is None:
            ess_q = rows
        else:
            run = 0.0
            for r in sorted(rows, key=lambda r: (r.u, r.term)):
                if run + r.u < th - _PRUNE_MARGIN:
                    run += r.u
                    non_q.append(r)
                else:
                    ess_q.append(r)
        # adaptive strategy per qid: the probe's candidate set is bounded
        # by Σ df(essential) — KNOWN driver-side. A stopword∧stopword
        # query would make the candidate side as big as the corpus and
        # turn the semi-join into a full shuffle join, so such qids run
        # exhaustively instead (probe only where it provably pays).
        cand_bound = sum(r.df for r in ess_q)
        if non_q and cand_bound > probe_max_candidates:
            ess_q, non_q = rows, []
        ess_rows += [(r.qid, r.term, r.qtf) for r in ess_q]
        non_rows += [(r.qid, r.term, r.qtf, r.df, cand_bound) for r in non_q]

    def _flat(q: DataFrame) -> DataFrame:
        h = (index_dl.join(F.broadcast(q), "term", "inner")
             .select("qid", "qtf", "df", F.explode("postings").alias("p")))
        return h.select("qid", "qtf", "df",
                        F.col("p.doc_id").alias("doc_id"),
                        F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl"))

    schema = "qid string, term string, qtf int"
    he = _flat(spark.createDataFrame(ess_rows, schema))
    parts = [he]
    # Probes: a non-essential list contributes only for candidate docs.
    # Candidate sets are ≤ probe_max_candidates per qid; the probe is a
    # candidate semi-join (hot lists are never aggregated). Broadcast
    # is decided DRIVER-SIDE from the known per-qid candidate bounds:
    # Σ cand_bound over the probing qids is an upper bound on the
    # candidate rows, so the hint is forced exactly when the whole set
    # provably fits a broadcast budget (the per-qid cap alone does not
    # bound a many-thousand-qid batch, where a blind hint would OOM and
    # AQE's 10 MB default would mis-route the normal regime to a
    # shuffled semi-join). For a long hot list probed by FEW
    # candidates, even the scan is skipped at BLOCK granularity
    # (block_skip branch) — the Spark analogue of the reference's
    # offsets.gz byte-seek into a posting list
    # (src/invertedIndex.py:240-241).
    plain = [(q, t, f) for q, t, f, df, cb in non_rows
             if df < max(block_skip_min_df, 10 * max(cb, 1))]
    skip = [(q, t, f) for q, t, f, df, cb in non_rows
            if df >= max(block_skip_min_df, 10 * max(cb, 1))]
    probe_qids = {q for q, _, _ in plain} | {q for q, _, _ in skip}
    total_cand = sum({q: cb for q, _, _, _, cb in non_rows
                      if q in probe_qids}.values())
    # ~24 B per (qid string, doc_id long) broadcast row; 256 MB budget
    bc_cand = (F.broadcast if total_cand * 24 < 256 * 1024 * 1024
               else (lambda df: df))
    if plain:
        qids = sorted({q for q, _, _ in plain})
        cand = bc_cand(he.where(F.col("qid").isin(qids))
                       .select("qid", "doc_id"))
        parts.append(_flat(spark.createDataFrame(plain, schema))
                     .join(cand, ["qid", "doc_id"], "leftsemi"))
    if skip:
        qids = sorted({q for q, _, _ in skip})
        cand_df = he.where(F.col("qid").isin(qids)).select("qid", "doc_id")
        cand = bc_cand(cand_df)
        # block-containment made equi-joinable: bucket doc space at
        # width W; a block spans ≤ span/W+1 buckets (pathologically wide
        # blocks, > 64 buckets, are kept unconditionally rather than
        # truncating coverage). The key subplan is NARROW — no posting
        # arrays are scanned to decide which blocks survive.
        W = 1024
        cbuck = bc_cand(
            cand_df.select("qid", (F.col("doc_id") / W).cast("long").alias("_bk"))
            .distinct())
        qn = spark.createDataFrame(skip, schema)
        nbk = (index_dl.join(F.broadcast(qn), "term", "inner")
               .select("qid", "term", "first_doc_id", "last_doc_id"))
        b0 = (F.col("first_doc_id") / W).cast("long")
        b1 = (F.col("last_doc_id") / W).cast("long")
        keys = bc_cand(
            nbk.where(b1 - b0 <= 64)
            .select("qid", "term", "first_doc_id",
                    F.explode(F.sequence(b0, b1)).alias("_bk"))
            .join(cbuck, ["qid", "_bk"], "leftsemi")
            .select("qid", "term", "first_doc_id").distinct()
            .unionByName(nbk.where(b1 - b0 > 64)
                         .select("qid", "term", "first_doc_id")))
        touched = (index_dl.join(F.broadcast(qn), "term", "inner")
                   .join(keys, ["qid", "term", "first_doc_id"], "leftsemi")
                   .select("qid", "qtf", "df", F.explode("postings").alias("p"))
                   .select("qid", "qtf", "df",
                           F.col("p.doc_id").alias("doc_id"),
                           F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl")))
        parts.append(touched.join(cand, ["qid", "doc_id"], "leftsemi"))
    hits = parts[0]
    for p_ in parts[1:]:
        hits = hits.unionByName(p_)
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - dfc + 0.5) / (dfc + 0.5))
    tf = F.col("tf").cast("double")
    sat = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    scored = (hits.select("qid", "doc_id", (F.col("qtf") * idf * sat).alias("partial"))
              .groupBy("qid", "doc_id").agg(F.sum("partial").alias("score")))
    return _topk(scored, k)


def topk_auto(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
              avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
              b: float = BM25_B, salt_buckets: int | None = None,
              prune_max_k: int | None = None,
              prune_min_docs: int | None = None) -> DataFrame:
    """Cost-based retrieval strategy pick — what the engine actually
    serves with when the caller doesn't name a strategy.

    Block-max pruning is an optimization with a TWO-AXIS regime
    (measured both ways on the Zipf bench — BASELINE.md "Deep-k
    honesty" and "Pruning crossover"):
    - depth: it wins when the θ floor converges quickly (shallow k)
      and loses at TREC depth, where θ stays low, few blocks die, and
      the candidate-probe machinery is pure overhead;
    - corpus volume: the probe machinery costs a per-batch FIXED
      number of extra Spark stages, so below ~0.5M docs (this
      hardware) the postings-scan savings never repay it at any k.
    Both branches are rank/score-identical to bm25_topk (each is
    independently oracle-gated), so the pick is cost-only:
    k ≤ prune_max_k AND n_docs ≥ min_docs → all-JVM MaxScore;
    otherwise exhaustive serving from the same blocked inline-dl
    index. Both inputs (k, n_docs) are the driver's own scalars, so
    the decision costs nothing at plan time.
    """
    from ..conf import AUTO_PRUNE_MAX_K, AUTO_PRUNE_MIN_DOCS
    from .query import bm25_topk_from_index
    if prune_max_k is None:
        prune_max_k = AUTO_PRUNE_MAX_K
    if prune_min_docs is None:
        prune_min_docs = AUTO_PRUNE_MIN_DOCS
    if k <= prune_max_k and n_docs >= prune_min_docs:
        return wand_topk_maxscore(index_dl, qterms, n_docs, avgdl, k=k,
                                  k1=k1, b=b, salt_buckets=salt_buckets)
    return bm25_topk_from_index(index_dl, None, qterms, n_docs, avgdl,
                                k=k, k1=k1, b=b)
