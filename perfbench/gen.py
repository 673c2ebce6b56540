"""Seeded input generators for the benchmark workloads.

Every table is built with numpy + pyarrow outside the engine and written
as parquet; the program under test only ever sees the files. The same
seed gives byte-identical tables. Sizes are arguments so the smoke mode
and the tests can run the same code on tiny inputs.
"""

from __future__ import annotations

import base64
import os
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- cookie updates (extract) ---------------------------------------------

# The kinds are the value formats the extractor's features branch on
# (FIXTURES.md section 1). Every share, rate and length below is an
# assumption: no measured distribution of real cookie traffic is part of
# the repository. README.md lists them.
COOKIE_KINDS = ("json", "base64", "csv", "hex", "uuid", "urlenc", "plain", "empty")
# share of entities whose first value has each kind (same order as above)
COOKIE_KIND_P = (0.18, 0.14, 0.14, 0.14, 0.12, 0.10, 0.12, 0.06)
# labels 0..3 are kept by training extraction; label 4 rows are filtered
LABEL_P = (0.35, 0.20, 0.20, 0.15, 0.10)
UPDATES_POISSON_MEAN = 1.8  # updates per entity: 1 + Poisson(1.8), capped
MAX_UPDATES = 12

_WORDS = (
    "consent preferences analytics advertising necessary functional userid "
    "timestamp session token visitor bucket cart locale theme region banner "
    "accepted declined true false marketing stats segment campaign"
).split()
_NAME_HEADS = (
    "ga_", "_utm", "sess_", "consent", "ab-test", "id_", "cf", "pref", "optin",
    "track_cookie_", "session-id", "consent-pref", "ga_visitor", "ab_bucket",
    "_fbp", "NID", "OptanonConsent", "CookieConsent", "lang", "cart",
)
_TOP_DOMAINS = [f"cdn{i}.example-ads.com" for i in range(17)] + [
    "analytics.example.org", "example-cmp.net", "social-widgets.io",
]


def _hexstr(rng: np.random.Generator, n: int) -> str:
    return rng.bytes((n + 1) // 2).hex()[:n]


def _cookie_value(rng: np.random.Generator, kind: str) -> str:
    """One cookie value of the given content kind, 0 to ~300 chars."""
    if kind == "json":
        n = int(rng.integers(1, 9))
        parts = []
        for _ in range(n):
            k = _WORDS[int(rng.integers(len(_WORDS)))]
            r = int(rng.integers(4))
            v = (
                str(int(rng.integers(0, 10**6))) if r == 0
                else ("true" if r == 1 else f'"{_hexstr(rng, int(rng.integers(0, 24)))}"')
            )
            parts.append(f'"{k}": {v}')
        return "{" + ", ".join(parts) + "}"
    if kind == "base64":
        return base64.b64encode(rng.bytes(int(rng.integers(4, 200)))).decode()
    if kind == "csv":
        sep = ",|;:"[int(rng.integers(4))]
        return sep.join(
            _WORDS[int(i)] if i % 3 else str(int(i) * 37)
            for i in rng.integers(0, len(_WORDS), int(rng.integers(2, 16)))
        )
    if kind == "hex":
        return _hexstr(rng, int(rng.integers(8, 129)))
    if kind == "uuid":
        h = _hexstr(rng, 32)
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    if kind == "urlenc":
        words = [_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), int(rng.integers(2, 12)))]
        return quote("&".join(f"{w}={int(rng.integers(100))} x" for w in words), safe="")
    if kind == "plain":
        n = int(rng.integers(1, 40))
        return " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n))
    return ""


def _next_value(rng: np.random.Generator, prev: str, kind: str) -> str:
    """The value of the following update: mostly unchanged, else a small
    edit of the previous value, else a fresh value of the same kind."""
    r = rng.random()
    if r < 0.45:
        return prev
    if r < 0.75 and prev:
        cut = int(rng.integers(0, len(prev) + 1))
        return prev[:cut] + _hexstr(rng, int(rng.integers(1, 6))) + prev[cut + 1:]
    return _cookie_value(rng, kind)


def cookie_updates(seed: int, n_entities: int) -> pa.Table:
    """Long-format cookie-update table (one row per update), the shape
    the extraction CLI reads: COOKIE_UPDATE_SCHEMA with an explicit
    per-update timestamp."""
    rng = np.random.default_rng([seed, 1])
    n_upd = np.minimum(1 + rng.poisson(UPDATES_POISSON_MEAN, n_entities), MAX_UPDATES)
    labels = rng.choice(5, n_entities, p=LABEL_P)
    kinds = rng.choice(len(COOKIE_KINDS), n_entities, p=COOKIE_KIND_P)
    n_rows = int(n_upd.sum())
    cols: dict[str, list] = {k: [] for k in (
        "entity_id", "ts", "name", "domain", "path", "first_party_domain",
        "label", "cmp_origin", "update_idx", "value", "expiry", "session",
        "http_only", "host_only", "secure", "same_site",
    )}
    t0 = 1_700_000_000_000_000  # epoch microseconds, fixed anchor
    for e in range(n_entities):
        head = _NAME_HEADS[int(rng.integers(len(_NAME_HEADS)))]
        name = head + (_hexstr(rng, int(rng.integers(0, 9))) if rng.random() < 0.7 else "")
        fp = f"shop{int(rng.integers(50))}.example.com"
        r = rng.random()
        domain = (
            _TOP_DOMAINS[int(rng.integers(len(_TOP_DOMAINS)))] if r < 0.4
            else (("." if rng.random() < 0.5 else "") + fp if r < 0.7
                  else f"site{int(rng.integers(5000))}.tracker{int(rng.integers(40))}.net")
        )
        path = "/" if rng.random() < 0.8 else f"/{_WORDS[int(rng.integers(len(_WORDS)))]}"
        cmp_origin = int(rng.integers(0, 3))
        kind = COOKIE_KINDS[kinds[e]]
        ts = t0 + int(rng.integers(0, 30 * 86_400_000_000))
        expiry = int(rng.integers(0, 400 * 86_400))
        flags = rng.random(4) < 0.5
        same_site = ("no_restriction", "lax", "strict")[int(rng.integers(3))]
        value = _cookie_value(rng, kind)
        for u in range(int(n_upd[e])):
            if u:
                ts += int(rng.integers(1, 86_400_000_000))
                value = _next_value(rng, value, kind)
                if rng.random() < 0.3:
                    expiry += int(rng.integers(-3 * 86_400, 30 * 86_400))
                if rng.random() < 0.1:
                    flags = flags ^ (rng.random(4) < 0.5)
                if rng.random() < 0.05:
                    same_site = ("no_restriction", "lax", "strict")[int(rng.integers(3))]
            cols["entity_id"].append(f"ck_{e:010d}")
            cols["ts"].append(ts)
            cols["name"].append(name)
            cols["domain"].append(domain)
            cols["path"].append(path)
            cols["first_party_domain"].append(fp)
            cols["label"].append(int(labels[e]))
            cols["cmp_origin"].append(cmp_origin)
            cols["update_idx"].append(u)
            cols["value"].append(value)
            cols["expiry"].append(expiry)
            cols["session"].append(bool(flags[0]))
            cols["http_only"].append(bool(flags[1]))
            cols["host_only"].append(bool(flags[2]))
            cols["secure"].append(bool(flags[3]))
            cols["same_site"].append(same_site)
    assert len(cols["entity_id"]) == n_rows
    return pa.table({
        "entity_id": pa.array(cols["entity_id"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        "name": pa.array(cols["name"], pa.string()),
        "domain": pa.array(cols["domain"], pa.string()),
        "path": pa.array(cols["path"], pa.string()),
        "first_party_domain": pa.array(cols["first_party_domain"], pa.string()),
        "label": pa.array(cols["label"], pa.int32()),
        "cmp_origin": pa.array(cols["cmp_origin"], pa.int32()),
        "update_idx": pa.array(cols["update_idx"], pa.int32()),
        "value": pa.array(cols["value"], pa.string()),
        "expiry": pa.array(cols["expiry"], pa.int64()),
        "session": pa.array(cols["session"], pa.bool_()),
        "http_only": pa.array(cols["http_only"], pa.bool_()),
        "host_only": pa.array(cols["host_only"], pa.bool_()),
        "secure": pa.array(cols["secure"], pa.bool_()),
        "same_site": pa.array(cols["same_site"], pa.string()),
    })


# --- events / orders (as-of flagship and the operator suite) ---------------

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_EV_T0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_EV_SPAN_US = 30 * 86_400_000_000


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """events(event_id, ts NTZ, user_id, event_type, value, props): ts
    ascending over 30 days, event_id in ts order, users uniform."""
    ts = np.sort(_EV_T0 + rng.integers(0, _EV_SPAN_US, n))
    kinds = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)
    props = kinds[rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props, pa.string()),
    })


def orders(rng: np.random.Generator, n: int, n_cust: int, t_lo: np.int64, t_hi: np.int64) -> pa.Table:
    """orders(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
    o_orderdate NTZ, o_orderpriority); dates uniform in [t_lo, t_hi),
    truncated to whole days (several orders of a customer can then share
    a date: the as-of tie-break case)."""
    d = rng.integers(t_lo, t_hi, n)
    d = d - d % 86_400_000_000
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(d.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)]),
    })


def flagship_tables(seed: int, n_events: int, n_users: int) -> dict[str, pa.Table]:
    """The as-of flagship pair: an events fact table and an orders
    dimension 1.5x its size over the same keys, with order dates spread
    from 60 days before the first event to its end (most events see a
    recent order, a few see none)."""
    rng = np.random.default_rng([seed, 2])
    ev = events(rng, n_events, n_users)
    lo = _EV_T0 - 60 * 86_400_000_000
    od = orders(rng, n_events * 3 // 2, n_users, lo, _EV_T0 + _EV_SPAN_US)
    return {"events": ev, "orders": od}


# --- the operator-suite star schema ---------------------------------------

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    langs = np.array(["en", "de", "fr", "es", "zh"])[
        rng.choice(5, n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.6, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + centers[labels] * 0.1
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _lineitem(rng: np.random.Generator, od: pa.Table, n_parts: int, n_supp: int) -> pa.Table:
    n_orders = od.num_rows
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    n = len(okey)
    line = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    odate = od.column("o_orderdate").to_numpy().astype("datetime64[us]").astype(np.int64)
    ship = odate[okey] + rng.integers(1, 122, n) * 86_400_000_000
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_parts, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def suite_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """A TPC-H-ish star schema plus events / documents / embeddings with
    the column set and value domains of the engine's test tables, at
    scale factor ``sf`` (events 10^6·sf, orders 1.5·10^6·sf, ~4
    lineitems per order, documents 5·10^4·sf, embeddings 2·10^4·sf)."""
    rng = np.random.default_rng([seed, 3])
    n_users = max(10, int(15_000 * sf))
    ev = events(rng, max(100, int(1_000_000 * sf)), n_users)
    t_lo = np.datetime64("1995-01-01", "us").astype(np.int64)
    t_hi = np.datetime64("2001-08-02", "us").astype(np.int64)
    od = orders(rng, max(150, int(1_500_000 * sf)), max(10, int(150_000 * sf)), t_lo, t_hi)
    return {
        "events": ev,
        "orders": od,
        "lineitem": _lineitem(rng, od, max(20, int(200_000 * sf)), max(10, int(10_000 * sf))),
        "documents": _documents(rng, max(50, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(100, int(20_000 * sf))),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as ``<out_dir>/<name>.parquet`` (one file, one
    row group, like the engine's test tables); returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p, row_group_size=max(1, t.num_rows))
        paths[name] = p
    return paths
