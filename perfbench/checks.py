"""Output checks, run outside the timed region.

- Registry queries: ``tools/check_correctness.compare`` against their DuckDB
  oracle twins over the same parquet files.
- ``api.run_pipeline``: a DuckDB SQL twin of the cleaning DAG over the same
  CSVs, compared cell for cell with the CSV the pipeline wrote.
- ``api.retrieve``: a numpy brute-force cosine top-k over the index file.
"""

from __future__ import annotations

import glob
import hashlib
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

from tools.check_correctness import compare
from usda_food_data_pipeline_spark.plans.usda_pipeline import (
    DEFAULT_THRESHOLDS_BY_NAME,
    DEFAULT_THRESHOLDS_BY_UNIT,
    FIXED_COLUMNS,
)
from usda_food_data_pipeline_spark.sources.tables import USDA_CSV_TYPES

SCORE_TOL = 1e-9


class RegistryOracle:
    """DuckDB views over one star-schema directory, compared per query."""

    def __init__(self, sf_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, name: str, df, sql: str | None) -> dict:
        return compare(name, df, sql, self.con)

    def close(self) -> None:
        self.con.close()


# -- run_pipeline ------------------------------------------------------------

def _csv(landing: str, table: str) -> str:
    cols = ", ".join(f"'{c}': '{t.upper()}'" for c, t in USDA_CSV_TYPES[table].items())
    return f"read_csv('{landing}/{table}.csv', header=true, quote='\"', escape='\"', columns={{{cols}}})"


def _label_sql(name: str, unit: str) -> str | None:
    if name is None or unit is None:
        return None
    return f"{name.strip().upper()} ({unit.strip().upper()})"


def _threshold(label: str) -> float | None:
    if label in DEFAULT_THRESHOLDS_BY_NAME:
        return DEFAULT_THRESHOLDS_BY_NAME[label]
    unit = label.split("(")[-1].replace(")", "").strip() if "(" in label else None
    return DEFAULT_THRESHOLDS_BY_UNIT.get(unit)


def pipeline_twin_sql(con, landing: str) -> tuple[str, list[str]]:
    """The cleaning DAG as one DuckDB query; returns (sql, output columns)."""
    labels: dict[int, str] = {}
    seen: set[str] = set()
    for nid, name, unit in sorted(con.sql(f"SELECT id, name, unit_name FROM {_csv(landing, 'nutrient')}").fetchall()):
        label = _label_sql(name, unit)
        if label in seen:
            label = f"{label} [{nid}]"
        seen.add(label)
        labels[nid] = label
    nutrient_cols = sorted(labels.values())
    by_label = {v: k for k, v in labels.items()}
    pivot = ",\n".join(
        f'max(q) FILTER (WHERE nid = {by_label[c]}) AS "{c}"' for c in nutrient_cols
    )
    outs = []
    for c in nutrient_cols:
        t = _threshold(c)
        outs.append(f'"{c}"' if t is None else f'CASE WHEN "{c}" <= {t!r} THEN round_even("{c}", 2) END AS "{c}"')
    sql = f"""
    WITH latest AS (
        SELECT * FROM {_csv(landing, 'branded_food')}
        QUALIFY row_number() OVER (PARTITION BY gtin_upc ORDER BY fdc_id DESC) = 1
    ), branded AS (
        SELECT fdc_id AS rid,
               upper(trim(gtin_upc)) AS FOOD_ID,
               upper(trim(ingredients)) AS FOOD_INGREDIENTS,
               round_even(TRY_CAST(serving_size AS DOUBLE), 2) AS FOOD_SERVING_SIZE_VALUE,
               upper(trim(serving_size_unit)) AS FOOD_SERVING_SIZE_UNIT
        FROM latest
    ), foods AS (
        SELECT fdc_id AS rid, upper(trim(description)) AS FOOD_NAME
        FROM {_csv(landing, 'food')} WHERE fdc_id IN (SELECT rid FROM branded)
    ), measured AS (
        SELECT fdc_id AS rid, nutrient_id AS nid, avg(amount) AS q
        FROM {_csv(landing, 'food_nutrient')}
        WHERE fdc_id IN (SELECT rid FROM branded)
        GROUP BY ALL
    ), wide AS (
        SELECT rid, {pivot} FROM measured GROUP BY rid
    ), merged AS (
        SELECT b.*, f.FOOD_NAME,
               CAST(b.FOOD_SERVING_SIZE_VALUE AS VARCHAR) || ' ' || b.FOOD_SERVING_SIZE_UNIT AS FOOD_SERVING_SIZE,
               w.* EXCLUDE (rid)
        FROM branded b JOIN foods f USING (rid) JOIN wide w USING (rid)
        WHERE b.FOOD_INGREDIENTS IS NOT NULL
    )
    SELECT CAST(rid AS VARCHAR) AS FOOD_RECORD_ID, FOOD_ID, FOOD_NAME, FOOD_SERVING_SIZE,
           FOOD_SERVING_SIZE_VALUE, FOOD_SERVING_SIZE_UNIT, FOOD_INGREDIENTS,
           {", ".join(outs)}
    FROM merged
    WHERE FOOD_SERVING_SIZE IS NOT NULL AND NOT contains(FOOD_SERVING_SIZE, 'IU')
    """
    return sql, FIXED_COLUMNS + nutrient_cols


def check_pipeline(landing: str, out_dir: str) -> dict:
    """Compare the pipeline's CSV output with the DuckDB twin, cell for cell."""
    con = duckdb.connect()
    try:
        sql, columns = pipeline_twin_sql(con, landing)
        files = sorted(glob.glob(f"{out_dir}/*.csv"))
        if not files:
            return {"ok": False, "status": "no_output"}
        got = con.sql(
            f"SELECT * FROM read_csv({files!r}, header=true, all_varchar=true, quote='\"', escape='\\')"
        )
        if got.columns != columns:
            return {"ok": False, "status": "schema_mismatch", "columns": got.columns[:10]}
        strings = {"FOOD_RECORD_ID", "FOOD_ID", "FOOD_NAME", "FOOD_SERVING_SIZE",
                   "FOOD_SERVING_SIZE_UNIT", "FOOD_INGREDIENTS"}
        typed = ", ".join(
            f'NULLIF("{c}", \'\') AS "{c}"' if c in strings else f'CAST(NULLIF("{c}", \'\') AS DOUBLE) AS "{c}"'
            for c in columns
        )
        con.sql(f"CREATE TEMP TABLE got AS SELECT {typed} FROM got")
        con.sql(f"CREATE TEMP TABLE want AS {sql}")
        n_got = con.sql("SELECT count(*) FROM got").fetchone()[0]
        n_want = con.sql("SELECT count(*) FROM want").fetchone()[0]
        extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
        missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
        ok = n_got == n_want and extra == 0 and missing == 0 and n_want > 0
        return {"ok": ok, "status": "match" if ok else "value_mismatch",
                "rows": n_got, "expected_rows": n_want, "extra": extra, "missing": missing}
    finally:
        con.close()


# -- retrieve ----------------------------------------------------------------

def embed_query(text: str, dim: int, seed: int = 11) -> np.ndarray:
    """The hashing featurizer ``functions.embed`` documents: md5 buckets of
    lower-cased whitespace tokens, L2-normalized."""
    counts = np.zeros(dim)
    for tok in re.split(r"\s+", text.strip().lower(), flags=re.ASCII):
        if tok:
            counts[int(hashlib.md5(f"s{seed}:{tok}".encode()).hexdigest()[:12], 16) % dim] += 1.0
    norm = np.sqrt((counts * counts).sum())
    return counts / norm if norm > 0 else counts


class IndexOracle:
    """Brute-force cosine top-k over an index parquet directory."""

    def __init__(self, index_dir: str, id_col: str, dim: int):
        table = pq.read_table(index_dir)
        self.ids = np.asarray(table[id_col].to_pylist(), dtype=object)
        self.vecs = np.stack([np.asarray(v, dtype=np.float64) for v in table["embedding"].to_pylist()])
        self.norms = np.linalg.norm(self.vecs, axis=1)
        self.dim = dim
        self.id_col = id_col

    def check(self, query: str, got: list[dict], k: int) -> dict:
        """The top-k by score, ties broken by id. Where two vectors score
        within ``SCORE_TOL`` of each other the engines may round their
        cosines apart by an ulp, so only ties in the returned scores
        themselves are held to id order."""
        q = embed_query(query, self.dim)
        qn = np.linalg.norm(q)
        if qn == 0:
            return {"ok": got == [], "status": "empty_query"}
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = self.vecs @ q / (self.norms * qn)
        by_id = {i: s for i, s in zip(self.ids, scores) if not np.isnan(s)}
        if len(got) != min(k, len(by_id)):
            return {"ok": False, "status": "count_mismatch", "got": len(got)}
        pairs = [(r.get(self.id_col), r.get("score")) for r in got]
        for g, score in pairs:
            if g not in by_id or score is None or abs(by_id[g] - score) > SCORE_TOL:
                return {"ok": False, "status": "score_mismatch", "id": g}
        for (g1, s1), (g2, s2) in zip(pairs, pairs[1:]):
            if s1 < s2 or (s1 == s2 and g1 >= g2):
                return {"ok": False, "status": "order_mismatch", "ids": [g1, g2]}
        floor = min(s for _, s in pairs) if pairs else np.inf
        returned = {g for g, _ in pairs}
        missed = [i for i, s in by_id.items() if s > floor + SCORE_TOL and i not in returned]
        if missed:
            return {"ok": False, "status": "missed", "ids": missed[:3]}
        return {"ok": True, "status": "match"}
