"""Corpus-growth and temporal-rollup analytics: Heaps-law vocabulary
growth, cumulative distinct-to-date via HLL prefix merges, and
trailing-window heavy hitters via CMS blob merges.

Report operators over ordered corpus prefixes / time windows:

- :func:`vocabulary_growth` — EXACT cumulative token occurrences and
  cumulative distinct vocabulary per ordered bucket (Heaps' law
  measurement, the standard corpus-scaling diagnostic).  Fully
  SQL-expressible, hash-oracled on the board (q85).
- :func:`distinct_to_date` — approximate distinct IDs to date per
  group via per-day HLL blobs PREFIX-MERGED on the driver: the
  mergeability law (north_rule: "merge associativity ... under
  arbitrary partition orderings") doing real analytic work — K blob
  merges for K days, no per-prefix rescan.  Gated against the exact
  first-appearance cumulative count and against a reverse-merge-order
  replay (register-level equality).
- :func:`windowed_heavy_hitters` — trailing-window heavy hitters via
  per-day CMS blobs (the linear CMS is additive, so a window query is
  ``window`` blob adds, not a re-scan); gated by the structural
  no-undercount law and the published eps·N guarantee per window.
- :func:`quantile_histogram` — equi-depth histogram whose edges come
  from a KLL sketch pass and whose fills come from one exact codegen
  scan; gated on |fill − 1/buckets| against the rank-error budget.

100-TB shape (vocabulary_growth, read from the executed plan): the
raw corpus NEVER crosses a shuffle — Catalyst plants a map-side
partial agg directly above each tokenize, so what moves is (a) the
distinct (token, bucket) pairs per scan partition and (b) the
distinct tokens per scan partition (Catalyst collapses the
first-appearance branch to a direct groupBy(token).min(bucket),
skipping the pair stage — strictly less shuffle than reusing the
pair exchange would cost).  The corpus is tokenized twice (cheap,
embarrassingly parallel CPU); the cumulative window runs over K
report rows.

100-TB shape (distinct_to_date): the per-(group, day) blob build is
plans.agg.sketch_by_key's map-side partial path (only (key, blob)
rows shuffle); the driver holds groups × days blobs — report-sized,
not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.textstats import _WS, _clean, _clean_sql

__all__ = [
    "vocabulary_growth",
    "vocabulary_growth_sql",
    "distinct_to_date",
    "windowed_heavy_hitters",
    "quantile_histogram",
]


def _tokens(text_col: str) -> Column:
    t = _clean(text_col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, rf"[{_WS}]+")
    )


def vocabulary_growth(df: DataFrame, text_col: str, bucket: Column) -> DataFrame:
    """Heaps-law growth report.

    ``bucket`` is an integer column expression defining the corpus
    prefix order (e.g. ``F.expr("doc_id div 50")``, an ingest-date
    ordinal, a snapshot id).  Output per bucket: ``n_docs``,
    ``bucket_tokens`` (occurrences), ``new_types`` (tokens whose FIRST
    corpus appearance is this bucket), ``cum_tokens``, ``cum_types`` —
    all exact longs; (cum_tokens, cum_types) pairs are the Heaps-law
    curve V(n) ≈ K·n^β.
    """
    b = bucket.cast("long").alias("bucket")
    toks = df.select(b, F.explode(_tokens(text_col)).alias("tok"))
    pairs = toks.groupBy("tok", "bucket").agg(F.count("*").alias("c"))
    occ = pairs.groupBy("bucket").agg(F.sum("c").alias("bucket_tokens"))
    # written over `pairs` for clarity; Catalyst rewrites this to a
    # direct groupBy(tok).min over the tokens (see module docstring)
    first = pairs.groupBy("tok").agg(F.min("bucket").alias("fb"))
    new = first.groupBy(F.col("fb").alias("bucket")).agg(
        F.count("*").alias("new_types")
    )
    ndocs = df.select(b).groupBy("bucket").agg(F.count("*").alias("n_docs"))
    rep = (
        ndocs.join(occ, "bucket", "left")
        .join(new, "bucket", "left")
        .fillna(0, ["bucket_tokens", "new_types"])
    )
    # report-sized window (K buckets) — global order is the point here
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return rep.select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        "new_types",
        F.sum("bucket_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
    )


def vocabulary_growth_sql(table_expr: str, text_col: str, bucket_sql: str) -> str:
    """DuckDB twin of :func:`vocabulary_growth` (same staged shape).

    ``table_expr`` is a table name or parenthesized subquery;
    ``bucket_sql`` the bucket expression (e.g. ``doc_id // 50`` —
    DuckDB ``//`` and Spark ``div`` agree for non-negative longs).
    """
    t = _clean_sql(text_col)
    words = f"(CASE WHEN {t} = '' THEN [] ELSE string_split_regex({t}, '[{_WS}]+') END)"
    return f"""
        WITH docs0 AS (
            SELECT ({bucket_sql})::BIGINT AS bucket, {words} AS ws FROM {table_expr}
        ),
        toks AS (SELECT bucket, unnest(ws) AS tok FROM docs0),
        pairs AS (SELECT tok, bucket, count(*)::BIGINT AS c FROM toks GROUP BY tok, bucket),
        occ AS (SELECT bucket, sum(c)::BIGINT AS bucket_tokens FROM pairs GROUP BY bucket),
        firsts AS (SELECT tok, min(bucket) AS fb FROM pairs GROUP BY tok),
        nw AS (SELECT fb AS bucket, count(*)::BIGINT AS new_types FROM firsts GROUP BY fb),
        nd AS (SELECT bucket, count(*)::BIGINT AS n_docs FROM docs0 GROUP BY bucket)
        SELECT nd.bucket AS bucket, nd.n_docs AS n_docs,
               coalesce(occ.bucket_tokens, 0) AS bucket_tokens,
               coalesce(nw.new_types, 0) AS new_types,
               CAST(sum(coalesce(occ.bucket_tokens, 0))
                    OVER (ORDER BY nd.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens,
               CAST(sum(coalesce(nw.new_types, 0))
                    OVER (ORDER BY nd.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_types
        FROM nd
        LEFT JOIN occ ON nd.bucket = occ.bucket
        LEFT JOIN nw ON nd.bucket = nw.bucket
    """


def distinct_to_date(
    df: DataFrame,
    group_col: str,
    id_col: str,
    day: Column,
    *,
    p: int = 13,
    bound_mult: float = 4.0,
) -> DataFrame:
    """Cumulative distinct ``id_col`` values to date, per group.

    Per-(group, day) HLL blobs are built with the map-side
    partial-agg path and prefix-merged per group on the driver (days
    in ascending order), so distinct-to-date for K days costs K blob
    merges instead of K corpus rescans.  Every row carries:

    - ``exact_cum`` — exact distinct-to-date (from the first-day-per-id
      aggregation, one extra exact pass),
    - ``hll_cum`` — the prefix-merge estimate,
    - ``within_bound`` — |est−exact|/exact ≤ bound_mult·1.04/√(2^p),
    - ``order_invariant`` — a REVERSE-merge-order replay produced
      register-identical sketches (merge commutativity/associativity
      evidence on real data, per the north rule).
    """
    from ..plans.agg import sketch_by_key
    from .hll import HyperLogLog

    t = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        day.cast("date").alias("d"),
    )
    # The blob build and the exact first-day pass are INDEPENDENT jobs
    # over the same input; submit them from two driver threads so the
    # second job's tasks back-fill executors freed by the first job's
    # tail (guide §2.6) — results identical, wall time ~max instead of
    # ~sum of the two report-sized collects.
    from concurrent.futures import ThreadPoolExecutor

    def _blobs():
        return sketch_by_key(
            t,
            ["g", "d"],
            "id",
            lambda: HyperLogLog(p=p),
            lambda sk: sk.serialize(),
            "blob",
            out_type="binary",
        ).collect()  # groups × days rows — report-sized by construction

    def _firsts():
        # exact distinct-to-date: each id counts on its FIRST day
        return (
            t.groupBy("g", "id")
            .agg(F.min("d").alias("fd"))
            .groupBy("g", "fd")
            .agg(F.count("*").alias("nnew"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_blobs = pool.submit(_blobs)
        f_firsts = pool.submit(_firsts)
        blobs = f_blobs.result()
        firsts = f_firsts.result()

    from collections import defaultdict

    from .base import Sketch

    by_group: dict = defaultdict(dict)
    for r in blobs:
        by_group[r.g][r.d] = bytes(r.blob)
    new_by_group: dict = defaultdict(dict)
    for r in firsts:
        new_by_group[r.g][r.fd] = r.nnew

    import numpy as np

    bound = bound_mult * 1.04 / float((1 << p) ** 0.5)
    rows = []
    for g in sorted(by_group):
        days = sorted(by_group[g])
        acc = None
        desc = None
        exact = 0
        for d in days:
            # two merge chains with OPPOSITE operand order and a
            # different association tree — register equality at every
            # prefix is the order-invariance law, checked per row
            sk_a = Sketch.deserialize(by_group[g][d])
            sk_b = Sketch.deserialize(by_group[g][d])
            acc = sk_a if acc is None else acc.merge(sk_a)
            desc = sk_b if desc is None else sk_b.merge(desc)
            exact += new_by_group[g].get(d, 0)
            est = float(acc.estimate())
            rows.append(
                (
                    g,
                    d,
                    int(exact),
                    round(est, 2),
                    bool(abs(est - exact) / max(exact, 1) <= bound),
                    bool(np.array_equal(acc.registers, desc.registers)),
                )
            )

    spark = df.sparkSession
    return spark.createDataFrame(
        rows,
        "g string, day date, exact_cum long, hll_cum double, "
        "within_bound boolean, order_invariant boolean",
    ).withColumnsRenamed({"g": group_col})


def windowed_heavy_hitters(
    df: DataFrame,
    item_col: str,
    day: Column,
    *,
    window: int = 7,
    eps: float = 0.005,
    delta: float = 0.01,
    topk: int = 5,
) -> DataFrame:
    """Trailing-window heavy hitters: CMS-estimated counts over a
    sliding ``window``-day range, one CMS blob per day.

    The linear (non-conservative) CMS is additive, so the merge of a
    window's per-day blobs IS the CMS of the window's rows — the
    window query costs ``window`` blob adds instead of a re-scan, and
    the same K day-blobs serve every window length.  Candidates come
    from the exact per-(day, item) aggregate, which is report-sized
    whenever the item domain is bounded (tool names, event types);
    ranking ties break on item so output is deterministic.

    Per output row ((day, item) for the window's exact top-k):
    ``cms_est`` (the merged-window estimate), ``exact`` (windowed
    truth), ``no_undercount`` (CMS ≥ exact — the structural law) and
    ``within_eps`` (CMS ≤ exact + eps·N_window — the published
    guarantee at 1−delta).
    """
    from ..plans.agg import sketch_by_key
    from .base import Sketch
    from .counting import CountMinSketch

    t = df.select(
        F.col(item_col).alias("it"), day.cast("date").alias("d")
    ).where(F.col("it").isNotNull())
    blobs = sketch_by_key(
        t,
        ["d"],
        "it",
        lambda: CountMinSketch.from_error(eps, delta),
        lambda sk: sk.serialize(),
        "blob",
        out_type="binary",
    ).collect()
    exact = t.groupBy("d", "it").agg(F.count("*").alias("c")).collect()

    from collections import defaultdict

    blob_by_day = {r.d: bytes(r.blob) for r in blobs}
    counts: dict = defaultdict(dict)
    for r in exact:
        counts[r.d][r.it] = r.c

    days = sorted(blob_by_day)
    rows = []
    for d in days:
        in_win = [d2 for d2 in days if 0 <= (d - d2).days < window]
        cms = None
        win_counts: dict = defaultdict(int)
        for d2 in in_win:
            sk = Sketch.deserialize(blob_by_day[d2])
            cms = sk if cms is None else cms.merge(sk)
            for it, c in counts[d2].items():
                win_counts[it] += c
        n_win = sum(win_counts.values())
        top = sorted(win_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
        if not top:
            continue
        ests = cms.estimate_batch([it for it, _ in top])
        for rank, ((it, ex), est) in enumerate(zip(top, ests), start=1):
            rows.append(
                (
                    d,
                    it,
                    rank,
                    float(est),
                    int(ex),
                    bool(est >= ex),
                    bool(est <= ex + eps * n_win),
                )
            )

    spark = df.sparkSession
    return spark.createDataFrame(
        rows,
        "day date, item string, rank int, cms_est double, exact long, "
        "no_undercount boolean, within_eps boolean",
    )


def quantile_histogram(
    df: DataFrame,
    col: str,
    *,
    buckets: int = 10,
    k: int = 400,
    tolerance_mult: float = 3.0,
) -> DataFrame:
    """Equi-depth histogram with sketch-planned edges (the classic
    sketch-driven two-pass: plan from an approximation, verify with
    one exact scan).

    Pass 1 builds a mergeable KLL sketch (map-side partials, one blob
    to the driver) whose (1/buckets, 2/buckets, ...) quantiles become
    bucket edges.  Pass 2 is ONE exact scan counting rows per edge
    interval — the bucket expression is an additive chain of
    ``col > edge_i`` longs, pure codegen, no UDF.

    Per bucket: (bucket, lo, hi, n, fill_frac, within_tol) where
    ``within_tol`` gates |fill_frac − 1/buckets| ≤ tolerance_mult ·
    eps_rank (the KLL rank-error budget ~1.75/k per merge depth,
    conservatively multiplied) — i.e. the sketch planned an equi-depth
    layout and the exact pass PROVES how equi-depth it came out.
    Edge ties (heavy repeated values) can legitimately starve a
    bucket; tolerance_mult is the caller's knob for that.
    """
    from ..plans.agg import build_sketch
    from .kll import KLL

    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    df = df.where(F.col(col).isNotNull())  # NULLs belong to no bucket
    sk = build_sketch(df.select(col), col, lambda: KLL(k=k))
    qs = [i / buckets for i in range(1, buckets)]
    edges = [float(e) for e in sk.quantiles(qs)]

    b = F.lit(0).cast("long")
    for e in edges:
        b = b + (F.col(col) > F.lit(e)).cast("long")
    hist = (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    counts = {r.bucket: r.n for r in hist.collect()}
    total = sum(counts.values())
    eps = 1.75 / k  # per-level budget; tolerance_mult absorbs depth
    lo = [float("-inf")] + edges
    hi = edges + [float("inf")]
    rows = []
    for i in range(buckets):
        n = int(counts.get(i, 0))
        fill = n / total if total else 0.0
        rows.append(
            (
                i,
                lo[i],
                hi[i],
                n,
                round(fill, 6),
                bool(abs(fill - 1.0 / buckets) <= tolerance_mult * eps + 1e-12),
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "bucket int, lo double, hi double, n long, fill_frac double, within_tol boolean",
    )


def richness_estimate(
    df: DataFrame,
    group_cols: list[str],
    item_col,
) -> DataFrame:
    """(group…, n, k, f1, f2, coverage, p0_unseen, chao1) — exact
    frequency-of-frequencies richness/coverage estimators per group:
    how much of the item universe have we NOT seen yet.  The
    unseen-mass complement to the seen-distinct sketches (HLL/theta
    count what was observed; Good-Turing and Chao1 extrapolate what
    wasn't) and the closed-form answer Heaps-law extrapolation
    (vocabulary_growth) only trends toward.

    With per-item counts c over N = Σc rows, k distinct items,
    f1 = |{c = 1}| singletons and f2 = |{c = 2}| doubletons:

        p0_unseen = f1 / N                (Good 1953: the probability
                                           the NEXT draw is a
                                           never-seen item)
        coverage  = 1 − f1 / N            (Turing sample coverage)
        chao1     = k + f1² / (2·f2)      (Chao 1984 richness lower
                                           bound; f2 = 0 falls back
                                           to the bias-corrected
                                           k + f1(f1−1)/2, an exact
                                           integer)

    Every count is an exact long; p0/coverage/chao1 derive by single
    correctly-rounded divisions (the f2 = 0 chao1 branch is pure
    integer — f1(f1−1) is even), so the whole row hash-oracles.
    NULL items are dropped; estimator contract: Chao1 is a LOWER
    bound on true richness and assumes the doubleton/singleton ratio
    reflects the abundance tail (documented, not gated).

    Scale shape: one map-side-combined (group, item) count — the
    only row-scale stage — then a cell-scale conditional aggregate.
    """
    it = F.col(item_col) if isinstance(item_col, str) else item_col
    cells = (
        df.where(it.isNotNull())
        .groupBy(*group_cols, it.alias("__i"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = cells.groupBy(*group_cols).agg(
        F.sum("__c").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum((F.col("__c") == 1).cast("long")).alias("__f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("__f2"),
    )
    n, k, f1, f2 = (F.col(c) for c in ("__n", "__k", "__f1", "__f2"))
    nd, kd, f1d, f2d = (c.cast("double") for c in (n, k, f1, f2))
    chao1 = F.when(f2 > 0, kd + (f1d * f1d) / (F.lit(2.0) * f2d)).otherwise(
        (k + F.expr("(__f1 * (__f1 - 1)) div 2")).cast("double")
    )
    return agg.select(
        *group_cols,
        n.alias("n"),
        k.alias("k"),
        f1.alias("f1"),
        f2.alias("f2"),
        (F.lit(1.0) - f1d / nd).alias("coverage"),
        (f1d / nd).alias("p0_unseen"),
        chao1.alias("chao1"),
    )


def richness_estimate_sql(table_expr: str, group: str, item: str) -> str:
    """DuckDB twin of :func:`richness_estimate` (same conditional
    aggregate, `//` for the even integer branch, identical double
    shapes)."""
    return f"""
        WITH __rc_cells AS (
            SELECT {group} AS g, {item} AS i, count(*)::BIGINT AS c
            FROM {table_expr}
            WHERE ({item}) IS NOT NULL
            GROUP BY 1, 2
        ),
        __rc_agg AS (
            SELECT g, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
                   sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
                   sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
            FROM __rc_cells GROUP BY g
        )
        SELECT g AS {group}, n, k, f1, f2,
               1.0 - f1::DOUBLE / n::DOUBLE AS coverage,
               f1::DOUBLE / n::DOUBLE AS p0_unseen,
               CASE WHEN f2 > 0
                    THEN k::DOUBLE + (f1::DOUBLE * f1::DOUBLE)
                         / (2.0 * f2::DOUBLE)
                    ELSE CAST(k + (f1 * (f1 - 1)) // 2 AS DOUBLE)
               END AS chao1
        FROM __rc_agg
    """
