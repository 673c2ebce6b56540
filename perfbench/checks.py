"""Output checks computed apart from the program.

Each checker takes the program's output files and the generated inputs
and returns a list of problems (empty = correct). Expected values come
from DuckDB SQL or plain Python (math, zlib, difflib, urllib), never
from the engine's own code paths.
"""

from __future__ import annotations

import difflib
import glob
import math
import os
import random
import zlib
from collections import Counter
from urllib.parse import unquote

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SUITE_TABLES = ("events", "orders", "lineitem", "documents", "embeddings")


def _connect(work_tmp: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if work_tmp:
        con.execute(f"SET temp_directory = '{work_tmp}'")
    return con


def read_spark_parquet(path: str) -> pd.DataFrame:
    """A parquet directory written by Spark, read by DuckDB; raises
    when Spark wrote no part files."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column order and row order independent form of a result."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(
                list(v) if isinstance(v, np.ndarray) else v
            ))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, atol: float = 0.0) -> list[str]:
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{len(a)} rows != {len(b)} expected"]
    try:
        if atol:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=atol, rtol=0.0)
        else:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return [f"values differ: {str(exc).splitlines()[0:4]}"]
    return []


# --- operator suite --------------------------------------------------------

def expected_entropy_zlib(docs: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        v = unquote(text)
        n = len(v)
        ent = -sum(c / n * math.log2(c / n) for c in Counter(v).values()) if n else 0.0
        rows.append((int(doc_id), round(ent, 6), len(zlib.compress(v.encode("utf-8"), 9))))
    return pd.DataFrame(rows, columns=["doc_id", "entropy", "zlib_len"])


def expected_gestalt_diff(events: pd.DataFrame) -> pd.DataFrame:
    ev = events.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    prev = ev.groupby("user_id")["props"].shift(1)
    ratio = [
        None if p is None or (isinstance(p, float) and math.isnan(p))
        else round(difflib.SequenceMatcher(None, p, c).ratio(), 6)
        for p, c in zip(prev, ev["props"])
    ]
    return pd.DataFrame({"event_id": ev["event_id"].to_numpy(), "gestalt_ratio": ratio})


def check_audio(got: pd.DataFrame) -> list[str]:
    if not 0 < len(got) <= 200:
        return [f"audio_pipeline: {len(got)} rows, expected 1..200"]
    num = got.select_dtypes("number").to_numpy(dtype=float)
    if not np.isfinite(num).all():
        return ["audio_pipeline: non-finite values"]
    if (got["sample_rate"] <= 0).any() or (got["channels"] < 1).any() or (got["duration_s"] <= 0).any():
        return ["audio_pipeline: non-positive rate/channels/duration"]
    return []


class SuiteChecker:
    """Expected results of the operator suite, computed once per input."""

    def __init__(self, table_paths: dict[str, str], oracles: dict[str, str], work_tmp=None):
        self.con = _connect(work_tmp)
        for t in SUITE_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_paths[t]}')")
        self.oracles = oracles
        self.paths = table_paths
        self._cache: dict[str, pd.DataFrame] = {}

    def expected(self, name: str) -> pd.DataFrame | None:
        if name not in self._cache:
            if name in self.oracles:
                self._cache[name] = self.con.execute(self.oracles[name]).df()
            elif name == "entropy_zlib":
                docs = pq.read_table(self.paths["documents"], columns=["doc_id", "text"]).to_pandas()
                self._cache[name] = expected_entropy_zlib(docs)
            elif name == "gestalt_diff":
                ev = pq.read_table(self.paths["events"]).to_pandas()
                self._cache[name] = expected_gestalt_diff(ev)
            else:
                return None
        return self._cache[name]

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        if name == "audio_pipeline":
            return check_audio(got)
        want = self.expected(name)
        if want is None:
            return [f"{name}: no independent check"]
        # plain-Python twins round half-even on binary doubles, Spark
        # rounds half-up on decimals: allow one unit in the 6th place
        atol = 1.01e-6 if name in ("entropy_zlib", "gestalt_diff") else 0.0
        return [f"{name}: {p}" for p in compare_frames(got, want, atol)]


# --- as-of flagship --------------------------------------------------------

FLAGSHIP_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
  FROM orders GROUP BY o_custkey, o_orderdate
), e AS (
  SELECT ev.*, o.ok AS ok
  FROM events ev ASOF LEFT JOIN o
    ON ev.user_id = o.o_custkey AND ev.ts >= o.o_orderdate
), l AS (
  SELECT *,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
         levenshtein(lag(props) OVER w, props) AS lev
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *,
         sum(CASE WHEN gap_us IS NULL OR gap_us / 1e6 > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) - 1
           AS session_id
  FROM l
)
SELECT user_id,
       count(*) AS n_updates,
       max(session_id) + 1 AS n_sessions,
       round(coalesce(avg(gap_us / 1e6), -1.0), 4) AS gap_mean,
       round(coalesce(avg(lev), -1.0), 4) AS lev_mean,
       CASE WHEN min(event_type) <> max(event_type) THEN 1.0 ELSE 0.0 END AS type_changed,
       max(ok) AS last_orderkey_asof
FROM s GROUP BY user_id
"""


def expected_flagship(events_path: str, orders_path: str, work_tmp=None) -> pd.DataFrame:
    con = _connect(work_tmp)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")
    return con.execute(FLAGSHIP_SQL).df()


def check_flagship(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    # means are summed in a different order by each engine: allow one
    # unit in the 4th (rounded) place
    return compare_frames(got, want, atol=1.01e-4)


# --- extraction ------------------------------------------------------------

SAMPLED_FEATURES = (
    "update_count-0",
    "update_0_content_length-0",
    "update_0_compressed_length-0",
    "update_0_compressed_length-1",
    "update_0_shannon_entropy-0",
    "diff_0_time_difference-0",
    "diff_0_gestalt_similarity-0",
)


def read_libsvm(path: str) -> list[tuple[int, tuple[int, ...], tuple[float, ...]]]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fd:
            for line in fd:
                toks = line.split()
                if not toks:
                    continue
                idx, val = [], []
                for t in toks[1:]:
                    i, v = t.split(":", 1)
                    idx.append(int(i))
                    val.append(float(v))
                rows.append((int(toks[0]), tuple(idx), tuple(val)))
    return rows


def _entity_features(updates: pd.DataFrame) -> dict[str, float | None]:
    """The sampled named features of one entity, from its raw updates."""
    u = updates.sort_values(["ts", "update_idx"], kind="mergesort")
    vals = list(u["value"])
    dec = unquote(vals[0])
    enc = dec.encode("utf-8", errors="replace")
    n = len(dec)
    ent = -sum(c / n * math.log2(c / n) for c in Counter(dec).values()) if n else 0.0
    zl = len(zlib.compress(enc, 9))
    two = len(vals) >= 2
    exp = list(u["expiry"])
    return {
        "update_count-0": float(len(vals)),
        "update_0_content_length-0": float(len(enc)),
        "update_0_compressed_length-0": float(zl),
        "update_0_compressed_length-1": float(len(enc) - zl),
        "update_0_shannon_entropy-0": ent,
        "diff_0_time_difference-0": float(exp[1] - exp[0]) if two else None,
        "diff_0_gestalt_similarity-0": (
            difflib.SequenceMatcher(None, vals[0], vals[1]).ratio() if two else None
        ),
    }


class ExtractChecker:
    """Expected extraction results for one generated input."""

    def __init__(self, input_path: str, seed: int, sample: int = 40):
        self.inp = pq.read_table(input_path).to_pandas()
        ents = self.inp.groupby("entity_id")["label"].first()
        self.labelled = ents[(ents >= 0) & (ents <= 3)]
        counts = duckdb.sql(
            f"SELECT label, count(DISTINCT entity_id) AS n FROM read_parquet('{input_path}') "
            "WHERE label BETWEEN 0 AND 3 GROUP BY label"
        ).df()
        total = int(counts["n"].sum())
        self.weights = {int(r.label): total / int(r.n) for r in counts.itertuples()}
        ids = sorted(self.labelled.index)
        self.sample = random.Random(seed).sample(ids, min(sample, len(ids)))
        by_ent = self.inp[self.inp["entity_id"].isin(set(self.sample))].groupby("entity_id")
        self.sample_features = {e: _entity_features(g) for e, g in by_ent}

    def check(self, out_dir: str) -> list[str]:
        probs: list[str] = []
        with open(os.path.join(out_dir, "feature_map.txt"), encoding="utf-8") as fd:
            fmap = [ln.split() for ln in fd if ln.strip()]
        width = len(fmap)
        col = {parts[1]: int(parts[0]) for parts in fmap}
        lines = read_libsvm(os.path.join(out_dir, "features_libsvm"))
        if len(lines) != len(self.labelled):
            probs.append(f"{len(lines)} libsvm lines != {len(self.labelled)} labelled entities")
        if Counter(r[0] for r in lines) != Counter(int(v) for v in self.labelled):
            probs.append("libsvm label multiset differs from the input's labelled entities")
        for lab, idx, _v in lines:
            if any(b <= a for a, b in zip(idx, idx[1:])) or (idx and (idx[0] < 0 or idx[-1] >= width)):
                probs.append(f"indices not ascending within [0, {width}) on a label-{lab} line")
                break
        ck = read_spark_parquet(os.path.join(out_dir, "_checkpoints", "extract", "data"))
        rows = {
            r.entity_id: r for r in ck.itertuples(index=False)
        }
        if set(rows) != set(self.labelled.index):
            probs.append("checkpointed entities differ from the input's labelled entities")
        as_lines = Counter(
            (int(r.label), tuple(int(i) for i in r.indices), tuple(float(v) for v in r.values))
            for r in rows.values()
        )
        if as_lines != Counter(lines):
            probs.append("libsvm lines differ from the checkpointed feature rows")
        for r in rows.values():
            w = self.weights.get(int(r.label))
            if w is None or abs(r.weight - w) > 1e-12 * w:
                probs.append(f"class weight {r.weight} != {w} for label {r.label}")
                break
        for ent, feats in self.sample_features.items():
            r = rows.get(ent)
            if r is None:
                continue
            got = dict(zip((int(i) for i in r.indices), (float(v) for v in r.values)))
            for fname, want in feats.items():
                have = got.get(col[fname]) if fname in col else "missing from feature map"
                ok = (have is None and want is None) or (
                    isinstance(have, float) and want is not None
                    and abs(have - want) <= 1e-9 * max(1.0, abs(want))
                )
                if not ok:
                    probs.append(f"{ent} {fname}: {have} != {want}")
        return probs
