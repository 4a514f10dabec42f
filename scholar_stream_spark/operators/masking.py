"""Governance operators G1-G3 (SURVEY.md §2.4).

OSS Spark has no Snowflake-style attachable masking policies or RBAC, so
governance is emulated exactly where the reference's *semantics* live:

- G1: the masking rule is a Column expression
  (``functions.text.mask_email``) with the reference's four branches
  (privileged-clear / NULL / no-@ / partial-mask,
  reference ``sql/05_masking_policy.sql:10-16``).
- G2/G3: role scoping is an *access-scoped catalog* — ``apply_masking``
  builds the view a given role is allowed to see; privileged roles get
  the clear column (and Catalyst folds the policy away entirely), analyst
  roles get the masked projection. ``plans/catalog.init_catalog`` wires
  this into the registered view set per role (reference role model:
  ``sql/02_rbac_policies.sql:3-34``, UI allowlists ``app/home.py:33-42``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from scholar_stream_spark.functions.text import PRIVILEGED_ROLES, mask_email
from scholar_stream_spark.plans import hybrid
from scholar_stream_spark.plans.hybrid import driver_rows_df

#: Role taxonomy carried over from the reference (sql/02_rbac_policies.sql).
KNOWN_ROLES = ("ACCOUNTADMIN", "R_INGEST", "R_TRANSFORM", "R_ANALYST")


def apply_masking(
    df: DataFrame, role: str, email_col: str = "email"
) -> DataFrame:
    """Return ``df`` with ``email_col`` masked according to ``role``.

    Same column name out as in (policy semantics: the masking is
    transparent to downstream queries — reference attaches the policy to
    the view column in place, ``sql/05_masking_policy.sql:18-19``).
    """
    return df.withColumn(email_col, mask_email(df[email_col], role))


def is_privileged(role: str) -> bool:
    return role.upper() in PRIVILEGED_ROLES


#: Re-identification threshold: a quasi-identifier group smaller than
#: K_ANON_K is an at-risk equivalence class (Sweeney 2002's k).
K_ANON_K = 5
#: Account-balance generalization width for the quasi-identifier.
K_ANON_BAL_BAND = 1000


def k_anonymity_audit(
    customer: DataFrame,
    k: int = K_ANON_K,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers — the
    measurement side of the governance story `apply_masking` enforces
    (Sweeney 2002: masking direct identifiers is not enough when the
    QUASI-identifier combination — here (nation, market segment,
    balance band) — isolates individuals; an equivalence class smaller
    than k re-identifies its members by linkage).

    Reports the equivalence-class SIZE DISTRIBUTION rather than the
    classes themselves (the classes are the sensitive thing — a size-1
    dump would be its own leak): per distinct class size, how many
    classes, how many customers, and whether that size is below k.
    ``sum(n_customers)`` partitions the table by construction.

    The balance generalization is integer floor-division of the DOUBLE
    balance by ``bal_band`` — identical IEEE divide + floor both
    engines; NULL balances form their own band (grouped, not dropped —
    the linkage attacker sees NULL too).

    Scale shape: two map-side-combined exchanges (customer → ≤|QI
    grid| class sizes → ≤max-size histogram); no window, no join.
    Output: (group_size, n_groups, n_customers, at_risk), exact
    integers.
    """
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k_anonymity: k must be >= 1, got {k}")
    if bal_band <= 0:
        # the generalization divide would be /0 -> inf bands
        raise ValueError(
            f"k_anonymity: bal_band must be > 0, got {bal_band}"
        )
    classes = customer.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(float(bal_band))).alias(
            "_band"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    return (
        classes.groupBy("group_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .select(
            "group_size",
            "n_groups",
            "n_customers",
            (F.col("group_size") < k).alias("at_risk"),
        )
    )


#: Distinct-sensitive-value floor: a class where every member shares
#: one market segment leaks the segment by membership alone.
L_DIVERSITY_L = 2


def l_diversity_audit(
    customer: DataFrame,
    l_floor: int = L_DIVERSITY_L,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a quasi-identifier class can be large (k-safe)
    while every member shares the SAME sensitive value, so membership
    alone discloses it (the homogeneity attack). Quasi-identifiers
    here are (nation, balance band) — the `k_anonymity_audit` grid
    MINUS the sensitive attribute — and the sensitive value is the
    market segment.

    Same disclosure-safe shape as the k audit: the distribution of
    per-class distinct-sensitive counts, not the classes themselves —
    per distinct l: classes, customers, at-risk flag (``l <
    l_floor``). ``sum(n_customers)`` partitions the population.

    Scale shape: the distinct-sensitive count and the class size come
    from ONE two-level aggregate (customer → distinct (QI, segment)
    grid with member counts → per-class rollup), then the ≤max-l
    histogram — three map-side-combined exchanges, no window, no
    join. NULL balances and NULL segments each group as their own
    value (the attacker sees NULL too). Output: (l_distinct,
    n_classes, n_customers, at_risk), exact integers.
    """
    from pyspark.sql import functions as F

    if l_floor < 1:
        raise ValueError(
            f"l_diversity: l_floor must be >= 1, got {l_floor}"
        )
    if bal_band <= 0:
        raise ValueError(
            f"l_diversity: bal_band must be > 0, got {bal_band}"
        )
    cells = customer.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(float(bal_band))).alias(
            "_band"
        ),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("long").alias("_m"))
    classes = cells.groupBy("c_nationkey", "_band").agg(
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum("_m").cast("long").alias("_size"),
    )
    return (
        classes.groupBy("l_distinct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("_size").cast("long").alias("n_customers"),
        )
        .select(
            "l_distinct",
            "n_classes",
            "n_customers",
            (F.col("l_distinct") < l_floor).alias("at_risk"),
        )
    )


#: Total-variation threshold: a class whose sensitive-value
#: distribution sits farther than this from the global one leaks
#: attribute information even when k- and l-safe.
T_CLOSENESS_T = 0.3


def t_closeness_audit(
    customer: DataFrame,
    t_threshold: float = T_CLOSENESS_T,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    skewness attack l-diversity misses: a class can contain l distinct
    sensitive values yet be distributed nothing like the population
    (99% segment A in a 20%-A world), so membership still shifts the
    attacker's posterior. Distance is the variational/EMD-with-unit-
    ground metric for categoricals: ``t = ½·Σ_s |p_class(s) −
    p_global(s)|``, QI = (nation, balance band), sensitive = market
    segment (the `l_diversity_audit` grid).

    Zero-cell fold, the `segment_priority_chi2` discipline: a segment
    ABSENT from a class contributes exactly ``p_global(s)`` and
    ``Σ_all p_global = 1``, so ``t = ½·(Σ_{s∈class} (|p_cs − p_gs| −
    p_gs) + 1)`` needs only the OCCUPIED (class, segment) cells — no
    class × segment densify. Each term is the identical DOUBLE
    literal of exact integer counts on both engines; NULL segments
    coalesce to a sentinel BEFORE the pipeline (join keys drop NULLs
    in both engines — the sentinel keeps that mass in the
    distribution, the `lang_mix_by_source` precedent).

    Disclosure-safe histogram shape (the k/l audits' contract): per
    (tenth-bucket of t, at-risk flag) — both computed PER CLASS on
    the engine-identical double (``floor(t·10)`` and ``t >
    t_threshold``), grouped together so a bucket straddling the
    threshold splits honestly instead of blurring into one flag. Scale
    shape: ONE cells aggregate (checkpointed — feeds class sizes,
    global margins, and terms), two tiny rollups broadcast back,
    per-class reduce, ≤11-row histogram.

    Output: (t_bucket, n_classes, n_customers, at_risk) — bucket INT
    0..10, counts BIGINT.
    """
    from pyspark.sql import functions as F

    if not 0.0 < t_threshold <= 1.0:
        raise ValueError(
            f"t_closeness: t_threshold must be in (0, 1], got "
            f"{t_threshold}"
        )
    if bal_band <= 0:
        raise ValueError(
            f"t_closeness: bal_band must be > 0, got {bal_band}"
        )
    cells = (
        customer.groupBy(
            "c_nationkey",
            F.floor(
                F.col("c_acctbal") / F.lit(float(bal_band))
            ).alias("_band"),
            F.coalesce("c_mktsegment", F.lit("(null)")).alias("_seg"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
        # three consumers (class sizes, global margins, terms)
        .localCheckpoint(eager=False)
    )
    classes = cells.groupBy("c_nationkey", "_band").agg(
        F.sum("_m").cast("long").alias("_n_c")
    )
    seg_tot = cells.groupBy("_seg").agg(
        F.sum("_m").cast("long").alias("_g")
    )
    n_total = cells.agg(F.sum("_m").cast("long").alias("_n"))
    c = cells.alias("c")
    k = classes.alias("k")
    per_class = (
        # NULL-SAFE on BOTH QI keys: NULL-balance/NULL-nation classes
        # are real QI classes — a plain equi-join would silently drop
        # them from the histogram, breaking the triptych's shared
        # "sum(n_customers) partitions the population" contract with
        # k_anonymity/l_diversity (pure groupBys, which KEEP NULL
        # keys). The oracle mirrors with IS NOT DISTINCT FROM; segments
        # were already coalesced to the sentinel so their join is plain
        c.join(
            F.broadcast(k),
            F.col("c.c_nationkey").eqNullSafe(F.col("k.c_nationkey"))
            & F.col("c._band").eqNullSafe(F.col("k._band")),
        )
        .select(
            F.col("c.c_nationkey").alias("c_nationkey"),
            F.col("c._band").alias("_band"),
            "c._seg",
            "c._m",
            "k._n_c",
        )
        .join(F.broadcast(seg_tot), "_seg")
        .crossJoin(F.broadcast(n_total))
        .groupBy("c_nationkey", "_band", "_n_c")
        .agg(
            F.sum(
                F.expr(
                    "abs(CAST(_m AS DOUBLE) / CAST(_n_c AS DOUBLE)"
                    " - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE))"
                    " - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE)"
                )
            ).alias("_tsum")
        )
        .select(
            "_n_c",
            F.expr("0.5 * (_tsum + 1.0)").alias("_t"),
        )
    )
    return (
        per_class.groupBy(
            F.expr("CAST(floor(_t * 10.0) AS INT)").alias("t_bucket"),
            F.expr(f"_t > {t_threshold!r}").alias("at_risk"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("_n_c").cast("long").alias("n_customers"),
        )
        .select("t_bucket", "n_classes", "n_customers", "at_risk")
    )


#: Deterministic generalization ladder (level → (geo granularity,
#: balance-band multiplier)): each step strictly coarsens the customer
#: quasi-identifiers the k/l/t audits measure — nation → region → '*'
#: on the geography axis, band × 1/5/25 → suppressed on the balance
#: axis. The LAST rung collapses everything into one equivalence class
#: (global distribution ⇒ t = 0), so enforcement always terminates.
QI_GENERALIZATION_LADDER = (
    ("nation", 1),
    ("nation", 5),
    ("region", 5),
    ("region", 25),
    ("region", None),  # balance suppressed
    ("*", None),  # geography + balance suppressed
)


def _qi_cells(customer: DataFrame, nation: DataFrame, bal_band: int):
    """Finest-grain QI cell table: (_nat, _reg, _seg, _band1, _m) —
    ONE corpus-scan aggregate every ladder rung rolls up from. The
    floor identity ``floor(x/(m·B)) = floor(floor(x/B)/m)`` (m integer)
    makes every coarser band an exact rollup of the base band, so the
    6-level report never rescans the customer table. Segments coalesce
    to a sentinel (the `t_closeness_audit` precedent); NULL
    nation/balance keep NULL keys (their own class — the attacker sees
    NULL too)."""
    from pyspark.sql import functions as F

    return (
        customer.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            customer["c_nationkey"] == nation["n_nationkey"],
            "left",
        )
        .groupBy(
            F.col("c_nationkey").cast("long").alias("_nat"),
            F.col("n_regionkey").cast("long").alias("_reg"),
            F.coalesce("c_mktsegment", F.lit("(null)")).alias("_seg"),
            F.floor(
                F.col("c_acctbal") / F.lit(float(bal_band))
            ).alias("_band1"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_m"))
        # consumed by 6 rungs x 3 rollups + the global margins
        .localCheckpoint(eager=False)
    )


def _qi_level_keys(geo: str, mult):
    """(geo key, band key) Column pair for one ladder rung, rolled up
    from the `_qi_cells` base keys. Suppressed axes use constants so
    NULLs merge too (suppression erases the column, NULL included)."""
    from pyspark.sql import functions as F

    if geo == "nation":
        g = F.col("_nat")
    elif geo == "region":
        g = F.col("_reg")
    else:
        g = F.lit(-1).cast("long")
    if mult is None:
        b = F.lit(0).cast("long")
    else:
        b = F.floor(F.col("_band1") / F.lit(float(mult)))
    return g, b


def _qi_report_stats_distributed(cells):
    """The above-cap ladder rollups (r17 level-keyed one-pass shape,
    §2.4): every rung's (geo, band) key is a pure expression of the
    checkpointed base grid, so a 6-way union of grid-sized selects —
    `leveled`, still grid-sized ×6 — feeds ONE aggregate per statistic
    family keyed by `level` (the k grid reuses the l/t grid's
    (level, geo, band, segment) cells: same groups, one aggregate
    fewer). Returns (kstats, lstats, tstats) DataFrames."""
    from pyspark.sql import functions as F

    seg_tot = cells.groupBy("_seg").agg(
        F.sum("_m").cast("long").alias("_g")
    )
    n_total = cells.agg(F.sum("_m").cast("long").alias("_n"))
    lvl_selects = []
    for lvl, (geo, mult) in enumerate(QI_GENERALIZATION_LADDER):
        g, b = _qi_level_keys(geo, mult)
        lvl_selects.append(
            cells.select(
                F.lit(lvl).cast("int").alias("level"),
                g.alias("_gg"),
                b.alias("_bb"),
                F.col("_seg"),
                F.col("_m"),
            )
        )
    leveled = lvl_selects[0]
    for sel in lvl_selects[1:]:
        leveled = leveled.unionByName(sel)
    # l/t grid: (geo, band) with per-segment cells — ALSO the k grid
    # ((geo, segment, band) classes are the same groups, key-reordered)
    sc = (
        leveled.groupBy("level", "_gg", "_bb", "_seg")
        .agg(F.sum("_m").cast("long").alias("_mc"))
        .localCheckpoint(eager=False)  # feeds k + l stats + t fold
    )
    kstats = sc.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("_mc").cast("long").alias("min_class_size"),
    )
    lstats = (
        sc.groupBy("level", "_gg", "_bb")
        .agg(F.count(F.lit(1)).alias("_ld"))
        .groupBy("level")
        .agg(F.min("_ld").cast("long").alias("min_l"))
    )
    classes = sc.groupBy("level", "_gg", "_bb").agg(
        F.sum("_mc").cast("long").alias("_n_c")
    )
    s = sc.alias("s")
    c = classes.alias("c")
    tstats = (
        # null-safe on both QI keys (NULL geo/band classes are
        # real classes — the t_closeness_audit contract)
        s.join(
            c,
            (F.col("s.level") == F.col("c.level"))
            & F.col("s._gg").eqNullSafe(F.col("c._gg"))
            & F.col("s._bb").eqNullSafe(F.col("c._bb")),
        )
        .join(F.broadcast(seg_tot), "_seg")
        .crossJoin(F.broadcast(n_total))
        .groupBy("s.level", "s._gg", "s._bb")
        .agg(
            F.sum(
                F.expr(
                    "abs(CAST(_mc AS DOUBLE) / CAST(_n_c AS DOUBLE)"
                    " - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE))"
                    " - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE)"
                )
            ).alias("_tsum")
        )
        .select(
            F.col("level"),
            F.expr("0.5 * (_tsum + 1.0)").alias("_t"),
        )
        .groupBy("level")
        .agg(F.max("_t").alias("_max_t"))
    )
    return kstats, lstats, tstats


#: Bounded probe for the ladder report's driver fast path (r18 — the
#: graph/ANN/BPE hybrid applied to the QI grid): the `_qi_cells` table
#: is grid-cardinality by construction (|geos| × |segments| × |bands|),
#: so on any real table it is thousands of rows; the bounded probe IS
#: the size check, and above the cap the distributed rollups run
#: unchanged.
QI_REPORT_DRIVER_CAP = 100_000


def _qi_report_stats_driver(pdf):
    """Per-level ladder statistics computed on a probe-collected cells
    grid: EXACT integer k/l statistics (dict regroups mirror the Spark
    groupBys — NULL keys group as ``None``), and the t fold as the
    IDENTICAL per-term IEEE double arithmetic (|mc/n_c − g/n| − g/n,
    then 0.5·(Σ+1)). The Σ over a class's ≤|segments| terms is a plain
    left fold in sorted-segment order — float addition order inside a
    class is the same indeterminacy class the distributed SUM already
    has across partitionings (the pagerank-driver discipline); the
    round-6 display grain stays in the caller's Spark select.

    Returns ``(krows, lrows, trows)`` matching the distributed
    kstats / lstats / tstats schemas; empty lists on an empty grid
    (the meta LEFT joins then reproduce the empty-input contract)."""
    import math  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def _key(col):
        return [None if pd.isna(v) else int(v) for v in col]

    nats = _key(pdf["_nat"])
    regs = _key(pdf["_reg"])
    bands = _key(pdf["_band1"])
    segs = list(pdf["_seg"])
    ms = [int(v) for v in pdf["_m"]]
    n_total = sum(ms)
    seg_tot: dict = {}
    for s, m in zip(segs, ms):
        seg_tot[s] = seg_tot.get(s, 0) + m
    krows, lrows, trows = [], [], []
    if not ms:
        return krows, lrows, trows
    for lvl, (geo, mult) in enumerate(QI_GENERALIZATION_LADDER):
        cls: dict = {}  # (g, b) -> {seg: mc}
        for nat, reg, b1, s, m in zip(nats, regs, bands, segs, ms):
            if geo == "nation":
                g = nat
            elif geo == "region":
                g = reg
            else:
                g = -1
            if mult is None:
                b = 0
            elif b1 is None:
                b = None
            else:
                b = math.floor(b1 / float(mult))
            segmap = cls.setdefault((g, b), {})
            segmap[s] = segmap.get(s, 0) + m
        sizes = [mc for segmap in cls.values() for mc in segmap.values()]
        krows.append((lvl, len(sizes), min(sizes)))
        lrows.append((lvl, min(len(segmap) for segmap in cls.values())))
        max_t = None
        for segmap in cls.values():
            n_c = sum(segmap.values())
            tsum = 0.0
            for s in sorted(segmap):
                gn = seg_tot[s] / n_total
                tsum += abs(segmap[s] / n_c - gn) - gn
            t = 0.5 * (tsum + 1.0)
            max_t = t if max_t is None or t > max_t else max_t
        trows.append((lvl, max_t))
    return krows, lrows, trows


def generalize_qi_report(
    customer: DataFrame,
    nation: DataFrame,
    k_target: int = K_ANON_K,
    l_floor: int = L_DIVERSITY_L,
    t_threshold: float = T_CLOSENESS_T,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """Generalization ladder report — the ENFORCEMENT companion to the
    k/l/t audit triptych (Sweeney 2002 §generalization; Samarati 2001's
    domain generalization hierarchies): for each rung of
    `QI_GENERALIZATION_LADDER`, re-measure all three privacy criteria
    on the coarsened quasi-identifiers and mark the FIRST rung where
    every criterion passes — the minimal generalization
    `generalize_quasi_identifiers` then applies. The audits measure;
    this decides.

    Per rung: ``min_class_size`` over the k grid (geo, segment, band —
    `k_anonymity_audit`'s QI), ``min_l`` distinct-sensitive floor and
    ``max_t`` total-variation distance over the l/t grid (geo, band),
    each computed with the audits' exact semantics (grouped cells so
    NULL segments count as a value; the zero-cell t fold; every count
    an exact integer until the final double literal).

    Scale shape: ONE map-side-combined corpus aggregate to the
    grid-sized `_qi_cells` table (checkpointed), then 6 rungs × 3
    cell-table rollups — the floor identity makes every coarser band
    an exact rollup, so the corpus is scanned once no matter how many
    rungs; global segment margins broadcast into the t fold; output is
    6 rows. The chosen flag folds in via a 1-row broadcast cross-join
    (no window).

    Output: (level, geo_level, band_width, n_classes, min_class_size,
    min_l, max_t, k_ok, l_ok, t_ok, chosen) — one row per rung;
    band_width NULL = balance suppressed; n_classes counts the k grid.
    """
    from pyspark.sql import functions as F

    if k_target < 1:
        raise ValueError(
            f"generalize_qi: k_target must be >= 1, got {k_target}"
        )
    if l_floor < 1:
        raise ValueError(
            f"generalize_qi: l_floor must be >= 1, got {l_floor}"
        )
    if not 0.0 < t_threshold <= 1.0:
        raise ValueError(
            f"generalize_qi: t_threshold must be in (0, 1], got "
            f"{t_threshold}"
        )
    if bal_band <= 0:
        raise ValueError(
            f"generalize_qi: bal_band must be > 0, got {bal_band}"
        )
    cells = _qi_cells(customer, nation, bal_band)
    # r18 driver fast path (guide §1.2 — the report cost 25 Spark jobs
    # of pure grid-sized stage latency): the cells grid is
    # grid-cardinality by construction, so under the bounded probe ALL
    # per-level statistics come from one collect — exact integer k/l
    # regroups, the t fold as the identical per-term IEEE arithmetic
    # (`_qi_report_stats_driver`); the meta join + verdict select below
    # are the SAME Spark expressions either way. Above the cap the
    # distributed rollups (r17 level-keyed one-pass shape) run
    # unchanged.
    probe = hybrid.bounded_probe(cells, QI_REPORT_DRIVER_CAP, arrow=True)
    if probe is not None:
        spark = customer.sparkSession
        krows, lrows, trows = _qi_report_stats_driver(probe)
        kstats = driver_rows_df(
            spark, krows,
            "level int, n_classes long, min_class_size long",
        )
        lstats = driver_rows_df(spark, lrows, "level int, min_l long")
        tstats = driver_rows_df(spark, trows, "level int, _max_t double")
    else:
        kstats, lstats, tstats = _qi_report_stats_distributed(cells)
    # per-level literals ride a 6-row meta table; LEFT joins + the
    # n_classes coalesce reproduce the old per-rung global-aggregate
    # semantics on an empty input (count over nothing = 0, mins NULL)
    meta = driver_rows_df(customer.sparkSession,
        [
            (
                lvl,
                geo,
                int(mult * bal_band) if mult is not None else None,
            )
            for lvl, (geo, mult) in enumerate(QI_GENERALIZATION_LADDER)
        ],
        "level int, geo_level string, band_width long",
    )
    report = (
        meta.join(F.broadcast(kstats), "level", "left")
        .join(F.broadcast(lstats), "level", "left")
        .join(F.broadcast(tstats), "level", "left")
        .select(
            "level",
            "geo_level",
            "band_width",
            F.coalesce("n_classes", F.lit(0).cast("long")).alias(
                "n_classes"
            ),
            "min_class_size",
            "min_l",
            "_max_t",
        )
    )
    report = report.select(
        "*",
        (F.col("min_class_size") >= F.lit(k_target)).alias("k_ok"),
        (F.col("min_l") >= F.lit(l_floor)).alias("l_ok"),
        (F.col("_max_t") <= F.lit(float(t_threshold))).alias("t_ok"),
    )
    first_ok = report.agg(
        F.min(
            F.when(
                F.col("k_ok") & F.col("l_ok") & F.col("t_ok"),
                F.col("level"),
            )
        ).alias("_first_ok")
    )
    return (
        report.crossJoin(F.broadcast(first_ok))
        .select(
            "level",
            "geo_level",
            "band_width",
            "n_classes",
            "min_class_size",
            "min_l",
            F.round("_max_t", 6).alias("max_t"),
            "k_ok",
            "l_ok",
            "t_ok",
            (F.col("level") == F.col("_first_ok")).alias("chosen"),
        )
    )


def generalize_quasi_identifiers(
    customer: DataFrame,
    nation: DataFrame,
    k_target: int = K_ANON_K,
    l_floor: int = L_DIVERSITY_L,
    t_threshold: float = T_CLOSENESS_T,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """Apply the minimal passing rung of the generalization ladder —
    the enforcement step the k/l/t audits only measure: returns the
    customer table with its quasi-identifier columns coarsened in
    place (``c_nationkey`` → nation / region key / −1 sentinel;
    ``c_acctbal`` → snapped to the chosen band start / 0.0 when
    suppressed) so the UNCHANGED audit operators re-run green on the
    output — same column names and types, every non-QI column intact.

    The rung choice reads `generalize_qi_report` (a bounded ≤6-row
    collect — the decision table, not data); the projection itself is
    one narrow codegen map over the corpus, broadcast-joined to the
    25-row nation dim only when the rung coarsens to region. Band
    snapping uses ``floor(bal/(m·B))·(m·B)``, so the audits' own
    ``floor(bal/B)`` re-banding groups EXACTLY like the report's
    rolled-up grid (both are injective images of the snapped band
    index) — what the report certified is what the audits re-measure.

    Raises if no rung passes (possible only with degenerate criteria,
    e.g. ``l_floor`` above the table's distinct-segment count — the
    last rung is one global class, so real data always terminates).
    """
    from pyspark.sql import functions as F

    report = generalize_qi_report(
        customer, nation, k_target, l_floor, t_threshold, bal_band
    )
    chosen = [r for r in report.collect() if r["chosen"]]
    if not chosen:
        raise ValueError(
            "generalize_qi: no ladder rung satisfies "
            f"(k>={k_target}, l>={l_floor}, t<={t_threshold}) — "
            "even full suppression fails; criteria are degenerate "
            "for this table"
        )
    geo, mult = QI_GENERALIZATION_LADDER[chosen[0]["level"]]
    nat_type = dict(customer.dtypes)["c_nationkey"]
    if geo == "nation":
        gen = customer
        geo_col = F.col("c_nationkey")
    elif geo == "region":
        gen = customer.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            customer["c_nationkey"] == nation["n_nationkey"],
            "left",
        )
        geo_col = F.col("n_regionkey").cast(nat_type)
    else:
        gen = customer
        geo_col = F.lit(-1).cast(nat_type)
    if mult is None:
        bal_col = F.lit(0.0)
    else:
        width = F.lit(float(mult * bal_band))
        bal_col = F.floor(F.col("c_acctbal") / width) * width
    return gen.select(
        *[
            geo_col.alias("c_nationkey")
            if name == "c_nationkey"
            else bal_col.cast("double").alias("c_acctbal")
            if name == "c_acctbal"
            else F.col(name)
            for name in customer.columns
        ]
    )


def suppress_small_classes(
    customer: DataFrame,
    k: int = K_ANON_K,
    bal_band: int = K_ANON_BAL_BAND,
) -> DataFrame:
    """Record suppression — the OTHER k-anonymity enforcement lever
    (Sweeney 2002 §suppression; what `generalize_quasi_identifiers`
    trades utility for coverage, this trades coverage for utility):
    drop every row whose `k_anonymity_audit` equivalence class —
    (nation, segment, balance band), the audit's exact QI grid — has
    fewer than ``k`` members, leaving all surviving values UNCOARSENED.
    The audit re-runs green on the output by construction (suppressing
    a class never shrinks another: classes are disjoint), pinned in
    pytest alongside the row-count identity
    ``|kept| = Σ_{size ≥ k} size``.

    Scale shape: ONE partitioned window — `count(*) OVER (PARTITION BY
    QI)` — on the grid-cardinality partitioning (NULL keys group,
    matching the audit's groupBy semantics; no join, no second scan),
    then a per-row filter. Not an unbounded single-task window: the QI
    grid is the partition key.

    Output: the retained customer rows, all columns intact.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"suppress: k must be >= 1, got {k}")
    if bal_band <= 0:
        raise ValueError(f"suppress: bal_band must be > 0, got {bal_band}")
    w = Window.partitionBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(float(bal_band))),
    )
    return (
        customer.withColumn("_csz", F.count(F.lit(1)).over(w))
        .filter(F.col("_csz") >= F.lit(k))
        .drop("_csz")
    )
