"""Portable-chain diagnostic probe (r08 verdict task 2).

``lm_doc_scores`` and ``dsir_select`` hash-mismatched on the DRIVER's
DuckDB for three consecutive rounds while matching the local DuckDB and
a vanilla-session driver-gate simulation exactly — the divergence is
driver-environment-resident and cannot be reproduced locally.  This
probe is the bisect: a FIXED literal table of adversarial integers
(grid-boundary-adjacent inputs mined offline so their ln nano-snaps sit
maximally close to a floor(v*1e9 + 0.5) tie, plus power-of-two edge
values through 2^62) evaluated through the exact code paths those two
queries use:

- the Spark side ships the fixed-form IEEE software-ln doubles computed
  by driver Python (``py_ln_int`` — the same function that builds the
  lm/dsir literal tables) and performs every combine + grid snap
  IN-PLAN with plain JVM arithmetic, mirroring lm/dsir's exposure;
- the oracle side evaluates the full SQL chain (``sql_ln_select``) plus
  the same combines/snaps in DuckDB.

Column-level bisect when the driver runs both sides:

- ``ln_*_nanos`` red  ⇒ the chain ITSELF produces different bits in the
  driver's DuckDB; the offending integer is identified by row.
- ``ln_*_nanos`` green but ``*_after_nanos`` red ⇒ single-term logs
  agree and the divergence is in the combine-then-snap of doubles
  (e.g. FMA contraction in the driver build's expression evaluator) —
  exactly the per-occurrence exposure lm/dsir carried.
- everything green ⇒ the chain is sound in the driver env and the
  lm/dsir defect was in their query-specific SQL (DECIMAL promotion
  rules); the per-term columns (``*_per_nanos``) then validate the
  r08-task-3 restructure directly against the driver environment.

RESOLUTION (r11 driver row → r12): the r10-shape probe (pure BIGINT
nano columns) was driver-GREEN; the r11 extension that added
``d2_dec``/``c4_dec``/``c4_big_dec`` DECIMAL(38,9) columns riding the
exact integer→decimal conversion lm/dsir used for sum_lp/sum_lw came
back rows-green + schema-green + HASH-RED (CORRECTNESS_r11), while the
full-domain ``ln_domain_census`` row (every single-ln argument lm/dsir
evaluate, BIGINT nanos) was GREEN.  That is the bisect firing: every
ln value and every BIGINT combine agrees in the driver environment;
the int→DECIMAL(38,9) OUTPUT conversion is the one divergent link.
Per the decision table above, lm/dsir re-enter the window shipping
exact BIGINT nano sums (``sum_lp_nanos``/``sum_lw_nanos``) and the
DECIMAL(38,9) materialization is gone from the driver-compared surface
engine-wide.  The probe therefore reverts to the driver-green BIGINT
output type, keeping the magnitude coverage the decimal columns added:
``c4_big_nanos`` pushes the probed combine to the ~1e15-nano magnitude
a real per-doc sum reaches, as a BIGINT — exactly the form lm/dsir now
ship.

Reference analog: none — this is gate infrastructure for the engine's
portable-arithmetic contract (functions/portable_ln.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .portable_ln import (
    POWS_CTE,
    grid_nanos_col,
    literal_table,
    py_ln_int,
    sql_grid_nanos,
    sql_ln_select,
)

# big_nanos scaling factor: pushes the probed BIGINT combine to the
# ~1e15-nano magnitudes a real per-doc sum_lp_nanos/sum_lw_nanos
# reaches (the probe's raw combines top out near ±4.3e10 nanos).
# Prime, so no factor cancels against a grid value.
_BIG_NANOS_MULT = 100_003

# (a, b, c, d) positive BIGINT inputs.  Mined offline (seeded scan of
# 1.2M candidates, keep the 60 closest-to-tie per shape) + structural
# power-of-two edges; baked as literals so the probe can never drift.
PROBE_INPUTS: tuple[tuple[int, int, int, int], ...] = (
    (1, 1, 1, 1), (2, 1, 1, 1),
    (3, 1, 1, 1), (5, 1, 1, 1),
    (7, 1, 1, 1), (10, 1, 1, 1),
    (1023, 1, 1, 1), (1024, 1, 1, 1),
    (1025, 1, 1, 1), (1048575, 1, 1, 1),
    (1048576, 1, 1, 1), (1048577, 1, 1, 1),
    (1073741823, 1, 1, 1), (1073741824, 1, 1, 1),
    (1073741825, 1, 1, 1), (1099511627775, 1, 1, 1),
    (1099511627776, 1, 1, 1), (1099511627777, 1, 1, 1),
    (4503599627370495, 1, 1, 1), (4503599627370496, 1, 1, 1),
    (4503599627370497, 1, 1, 1), (9007199254740991, 1, 1, 1),
    (9007199254740992, 1, 1, 1), (9007199254740993, 1, 1, 1),
    (4611686018427387903, 1, 1, 1), (4611686018427387904, 1, 1, 1),
    (4611686018427387905, 1, 1, 1), (141438, 1, 1, 1),
    (5414346, 1, 1, 1), (20113205101, 1, 1, 1),
    (198979, 1, 1, 1), (21551990450, 1, 1, 1),
    (91816948113, 1, 1, 1), (7250729, 1, 1, 1),
    (8974585079, 1, 1, 1), (44162984062, 1, 1, 1),
    (82311161943, 1, 1, 1), (738144, 1, 1, 1),
    (6053524737, 1, 1, 1), (52332929, 1, 1, 1),
    (59555355498, 1, 1, 1), (44717, 1, 1, 1),
    (775694, 1, 1, 1), (6741818351, 1, 1, 1),
    (168960, 1, 1, 1), (970234, 1, 1, 1),
    (5176989085, 1, 1, 1), (17796704782, 1, 1, 1),
    (170138317665, 1, 1, 1), (3567673, 1, 1, 1),
    (6924813017, 1, 1, 1), (369762250, 1, 1, 1),
    (9669853105, 1, 1, 1), (781802277539, 1, 1, 1),
    (232763, 1, 1, 1), (4238400, 1, 1, 1),
    (57658, 1, 1, 1), (11438630, 1, 1, 1),
    (1926989026, 1, 1, 1), (51050112, 1, 1, 1),
    (4572969740, 1, 1, 1), (89484869, 1, 1, 1),
    (462006451169, 1, 1, 1), (64903655, 1, 1, 1),
    (783127, 1, 1, 1), (976842680, 1, 1, 1),
    (15709, 1, 1, 1), (4261, 1, 1, 1),
    (6808444, 1, 1, 1), (671233596, 1, 1, 1),
    (9017, 1, 1, 1), (779455, 1, 1, 1),
    (1194920, 1, 1, 1), (172039954, 1, 1, 1),
    (835784784, 1, 1, 1), (474260, 1, 1, 1),
    (5330106166, 1, 1, 1), (6971216, 1, 1, 1),
    (617271, 1, 1, 1), (82770792, 1, 1, 1),
    (923797862844, 1, 1, 1), (870607, 1, 1, 1),
    (92110956, 14086, 1, 1), (25172, 102483, 1, 1),
    (5542, 326612776, 1, 1), (13961274, 745731924, 1, 1),
    (463210582, 546662976017, 1, 1), (4, 65822202187, 1, 1),
    (26258, 10, 1, 1), (16505, 942317634, 1, 1),
    (127562, 61787793789, 1, 1), (22, 529, 1, 1),
    (962861, 925447256610, 1, 1), (8418851, 347788638510, 1, 1),
    (24526245199, 979051614, 1, 1), (3535249, 284967057782, 1, 1),
    (545740, 3319605599, 1, 1), (5777, 8472, 1, 1),
    (464195492, 498170099, 1, 1), (9809563, 3, 1, 1),
    (1495826, 84832613, 1, 1), (83511, 39236585309, 1, 1),
    (932825, 31865, 1, 1), (28520, 5887, 1, 1),
    (3398601642, 41, 1, 1), (9729685258, 75, 1, 1),
    (81513985, 33644, 1, 1), (125045, 1, 1, 1),
    (9057571172, 1, 1, 1), (777222725306, 633407, 1, 1),
    (16, 7700461174, 1, 1), (514, 676963024, 1, 1),
    (74463, 746, 1, 1), (9758, 76568, 1, 1),
    (18110473197, 62, 1, 1), (421557034, 641122742, 1, 1),
    (1493, 32648610, 1, 1), (55773, 11, 1, 1),
    (897, 12353936233, 1, 1), (390415522, 5, 1, 1),
    (845, 5423219723, 1, 1), (47729365, 40167572, 1, 1),
    (343227, 483830, 1, 1), (709, 746633475, 1, 1),
    (40556191038, 1, 1, 1), (9352, 28279973238, 1, 1),
    (1, 7368056333, 1, 1), (3071860, 491, 1, 1),
    (583348, 965807, 1, 1), (5, 118524870950, 1, 1),
    (5, 908736, 1, 1), (3919, 259, 1, 1),
    (98, 7216172107, 1, 1), (89, 755524, 1, 1),
    (395636497782, 550854, 1, 1), (8217, 90027704027, 1, 1),
    (41363, 1369055708, 1, 1), (759105848, 402197, 1, 1),
    (1, 590592359, 1, 1), (879816, 70719428861, 1, 1),
    (353801536, 817231, 1, 1), (4411, 9932752, 1, 1),
    (101, 67183228, 220472073, 52), (956, 799, 952530, 691),
    (864341, 10, 61322, 15), (209, 6375, 1, 478),
    (3692, 2, 706, 1271), (67936, 137, 9535, 83),
    (7008, 23733840, 522, 527661), (9724, 1, 311975, 2),
    (656577965, 8476441, 1, 1), (2875155, 4011644, 4082676, 65),
    (55141143, 658435, 9415013, 1676686), (189433681, 1, 11068, 4849126),
    (862, 27, 131, 90953108), (319828412, 2, 1, 633568094),
    (62744328, 93, 88, 4459), (358, 9756963, 1, 263402007),
    (573946, 21465, 3644, 1), (9306, 82332, 6, 858640),
    (610, 41, 52, 797), (81803, 992199, 628163, 328527),
    (83042172, 50646606, 15, 669358), (246, 15083345, 1, 3205),
    (99819, 365761, 3, 67), (87555, 478643301, 109194937, 72154),
    (367, 90267, 125249, 706336067), (3594, 896583680, 10, 75221),
    (8, 997708210, 5224, 1), (489527690, 8113796, 54103846, 95),
    (141720, 70, 8440, 47729467), (6194, 97674, 4, 76605),
    (615328, 914087, 1, 337), (1972326, 8975200, 9323156, 12629),
    (1, 52565486, 550024, 38664), (4, 61239021, 38, 8378875),
    (1, 1705, 9821, 187531), (652, 605701, 1, 237942192),
    (43, 10328885, 923704, 757), (2319, 4, 1, 8824826),
    (34178725, 89, 132386480, 978422247), (20869, 4, 36, 805),
    (2804120, 57548948, 190975041, 831), (1, 47642698, 1, 939388032),
    (9, 4137, 549258878, 35390), (9937, 542, 1, 201091137),
    (515036, 29127136, 50028690, 1), (84, 8, 6964, 237),
    (89927, 9570439, 151880031, 5701), (6, 5932816, 607052341, 2401165),
    (20097810, 1, 1, 624), (8472, 976025113, 7593385, 526958294),
    (9232, 1349768, 514, 307), (1, 784089143, 955490040, 3707644),
    (30263411, 560, 41458, 14154226), (1, 94304814, 84, 11),
    (88984, 267858, 358733, 425), (7979341, 1700, 45, 9),
    (4, 1, 39, 85), (256153, 6378139, 4183018, 4),
    (27624368, 3, 33, 2768472), (34872459, 100579, 65, 86337534),
)



def chain_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per probe input with every snap variant as BIGINT.

    ``sf_dir`` is unused (fixed literal inputs); the signature matches
    the registry contract.
    """
    rows = [
        (i, a, b, c, d, py_ln_int(a), py_ln_int(b), py_ln_int(c), py_ln_int(d))
        for i, (a, b, c, d) in enumerate(PROBE_INPUTS)
    ]
    src = literal_table(
        spark,
        rows,
        "probe_id int, a bigint, b bigint, c bigint, d bigint, "
        "_la double, _lb double, _lc double, _ld double",
    )
    la, lb, lc, ld = (F.col(x) for x in ("_la", "_lb", "_lc", "_ld"))
    sa, sb, sc_, sd = (grid_nanos_col(x) for x in (la, lb, lc, ld))
    d2 = sa - sb
    c4 = ((sa + sb) - sc_) - sd
    return src.select(
        "probe_id",
        "a",
        "b",
        "c",
        "d",
        sa.alias("ln_a_nanos"),
        sb.alias("ln_b_nanos"),
        sc_.alias("ln_c_nanos"),
        sd.alias("ln_d_nanos"),
        grid_nanos_col(la - lb).alias("d2_after_nanos"),
        d2.alias("d2_per_nanos"),
        grid_nanos_col(((la + lb) - lc) - ld).alias("c4_after_nanos"),
        c4.alias("c4_per_nanos"),
        # the r11 DECIMAL(38,9) bisect columns fired RED here (nano
        # columns green) and are resolved out per the decision table —
        # see the module docstring.  This keeps their magnitude
        # coverage in the driver-green BIGINT form lm/dsir now ship:
        # the 4-term combine at the ~1e15-nano scale of a real per-doc
        # sum (bigint·bigint literal multiply, exact in both engines).
        (c4 * F.lit(_BIG_NANOS_MULT).cast("bigint")).alias("c4_big_nanos"),
    )


def chain_probe_oracle_sql() -> str:
    """DuckDB twin: the full SQL chain over the same literal inputs."""
    vals = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT), "
        f"CAST({c} AS BIGINT), CAST({d} AS BIGINT))"
        for i, (a, b, c, d) in enumerate(PROBE_INPUTS)
    )
    inner = sql_ln_select(
        "probe_in",
        ["probe_id", "a", "b", "c", "d"],
        {"a": "a", "b": "b", "c": "c", "d": "d"},
        [
            ("ln_a_nanos", sql_grid_nanos("_ln_a")),
            ("ln_b_nanos", sql_grid_nanos("_ln_b")),
            ("ln_c_nanos", sql_grid_nanos("_ln_c")),
            ("ln_d_nanos", sql_grid_nanos("_ln_d")),
            ("d2_after_nanos", sql_grid_nanos("(_ln_a - _ln_b)")),
            (
                "d2_per_nanos",
                f"{sql_grid_nanos('_ln_a')} - {sql_grid_nanos('_ln_b')}",
            ),
            (
                "c4_after_nanos",
                sql_grid_nanos("(((_ln_a + _ln_b) - _ln_c) - _ln_d)"),
            ),
            (
                "c4_per_nanos",
                f"(({sql_grid_nanos('_ln_a')} + {sql_grid_nanos('_ln_b')}) "
                f"- {sql_grid_nanos('_ln_c')}) - {sql_grid_nanos('_ln_d')}",
            ),
            (
                "c4_big_nanos",
                f"((({sql_grid_nanos('_ln_a')} + {sql_grid_nanos('_ln_b')}) "
                f"- {sql_grid_nanos('_ln_c')}) - {sql_grid_nanos('_ln_d')}) "
                f"* CAST({_BIG_NANOS_MULT} AS BIGINT)",
            ),
        ],
    )
    return (
        f"WITH {POWS_CTE}, "
        f"probe_in(probe_id, a, b, c, d) AS (SELECT * FROM (VALUES {vals}) "
        f"AS _pi(probe_id, a, b, c, d)) "
        f"{inner}"
    )


def ln_domain_census(
    docs,
    train_source: str = "src0",
    target_source: str = "src1",
    n_buckets: int = 4096,
    text_col: str = "text",
    source_col: str = "source",
):
    """Full-domain ln census (r10 verdict task 1(b)): the EXACT ln
    argument domain lm_doc_scores and dsir_select evaluate at this sf,
    one output row per (family, argument) with the BIGINT nano snap.

    The fixed-literal probe above covers 202 adversarial integers; the
    four-round lm/dsir driver divergence may instead live on a REAL
    data-dependent argument the literals never hit.  This query closes
    that gap: the Spark side rebuilds the argument domains with the
    same construction as functions/lm.py:158-196 (distinct uni/bigram
    counts, the {1}-unioned backoff set, 5N) and functions/dsir.py:
    114-152 (per-bucket ct+1 / cq+1 plus the two smoothed totals),
    evaluates driver-Python ``py_ln_int`` over each argument, and ships
    ``(family, arg, nanos)`` as a literal table; the oracle computes
    the same domains in SQL and runs the portable chain
    (``sql_ln_select``) over them.  A driver hash mismatch therefore
    NAMES the offending integer (re-run the oracle and diff by row),
    and a green row certifies every ln the two red queries depend on —
    at the driver's scale, in the driver's DuckDB.

    Scale note: this is gate diagnostics, but the shape is the lm/dsir
    model-build shape and holds at 100 TB — the collected domains are
    distinct COUNT VALUES (heavy-tailed ⇒ tiny) and fixed bucket
    tables, never vocab- or corpus-sized; literal_table enforces the
    ceiling.
    """
    from pyspark.sql import functions as F

    from .. import scope
    from ..operators.dedup import md5_int, tokenize
    from .dsir import HASH_SEED, _bigrams
    from .lm import _adjacent_pairs
    from .portable_ln import literal_table, py_grid_nanos

    spark = docs.sparkSession

    # --- lm domains (functions/lm.py:125-171 construction) ---
    toks = scope.persist(
        docs.filter(F.col(source_col) == train_source).select(
            tokenize(F.col(text_col)).alias("toks")
        )
    )
    uni = toks.select(F.explode("toks").alias("w")).groupBy("w").agg(F.count("*").alias("c"))
    bg = (
        toks.select(F.explode(_adjacent_pairs(F.col("toks"))).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c"))
    )
    # the two bounded collects run concurrently (the lm_score_stupid_backoff
    # construction this census certifies — both read the toks cache)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_bg = pool.submit(
            lambda: sorted(int(r["c"]) for r in bg.select("c").distinct().collect())
        )
        f_uni = pool.submit(
            lambda: uni.agg(F.sum("c").alias("_n"), F.collect_set("c").alias("_vals")).collect()[0]
        )
        bg_vals, st = f_bg.result(), f_uni.result()
    scope.release(toks)
    n_total = int(st["_n"] or 0)
    uni_vals = sorted(int(v) for v in (st["_vals"] or []))
    back_vals = sorted({1} | set(uni_vals))

    # --- dsir domains (functions/dsir.py:89-139 construction) ---
    bucket = (md5_int(F.col("g"), seed=HASH_SEED, nibbles=8) % n_buckets).alias("b")
    occ_raw = (
        docs.filter(F.col(source_col) != target_source)
        .select(F.explode(_bigrams(tokenize(F.col(text_col)))).alias("g"))
        .select(bucket)
    )
    occ_tgt = (
        docs.filter(F.col(source_col) == target_source)
        .select(F.explode(_bigrams(tokenize(F.col(text_col)))).alias("g"))
        .select(bucket)
    )
    cq = occ_raw.groupBy("b").agg(F.count(F.lit(1)).alias("cq"))
    ct = occ_tgt.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    # independent jobs, run concurrently (the dsir.py:132-137 pattern)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_cq = pool.submit(lambda: {int(r["b"]): int(r["cq"]) for r in cq.collect()})
        f_ct = pool.submit(lambda: {int(r["b"]): int(r["ct"]) for r in ct.collect()})
        cq_rows, ct_rows = f_cq.result(), f_ct.result()
    nq = sum(cq_rows.values())
    nt = sum(ct_rows.values())

    args: set[tuple[str, int]] = set()
    args |= {("lm_bg", c) for c in bg_vals}
    args |= {("lm_prev", c) for c in uni_vals}
    args |= {("lm_back", 2 * c) for c in back_vals}
    args.add(("lm_5n", 5 * max(n_total, 1)))
    args |= {("dsir_ct1", ct_rows.get(b, 0) + 1) for b in cq_rows}
    args |= {("dsir_cq1", c + 1) for c in cq_rows.values()}
    args.add(("dsir_nqB", nq + n_buckets))
    args.add(("dsir_ntB", nt + n_buckets))

    rows = [
        (fam, arg, py_grid_nanos(py_ln_int(arg))) for fam, arg in sorted(args)
    ]
    return literal_table(spark, rows, "family string, arg bigint, nanos bigint")
