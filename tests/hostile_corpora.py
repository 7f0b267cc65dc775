"""Hostile corpora: one builder per adversarial table family, shared by
the CI differential gates (tests/test_hostile_{events,orders,dims,text,
embeddings}.py) and the out-of-band sweep (scripts/hostile_sweep.py).

Each `build_hostile_*(base)` writes its family's tables into `base`,
symlinks every other registry table from the clean smoke SF (`SMOKE`,
fixed, so a corpus does not change with $SPARK_GRAFT_TEST_SF) and
returns `base`.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from trino_demo_spark.registry import TABLE_NAMES

SMOKE = "/root/testdata/sf0.001"


def _write(base: str, table: str, rows: list, fields: list) -> None:
    """Write `rows` (tuples in `fields` order) as `{base}/{table}.parquet`;
    `fields` is a list of (column name, arrow type) pairs."""
    pq.write_table(
        pa.table(
            {c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(fields)}
        ),
        os.path.join(base, f"{table}.parquet"),
    )


def _link_clean(base: str) -> str:
    """Symlink every registry table not yet written in `base` from SMOKE."""
    for t in TABLE_NAMES:
        dst = os.path.join(base, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"{SMOKE}/{t}.parquet", dst)
    return base


def build_hostile_events(base: str) -> str:
    """Adversarial `events`: timestamp pathologies are the classic
    window/session-op killers — exact session-gap boundaries, duplicate
    (user, ts) pairs, NULL ts/user/value, NaN/±Inf values, epoch-0 /
    pre-1970 / far-future timestamps, identical rows, unordered file
    layout, malformed props JSON."""
    os.makedirs(base, exist_ok=True)
    rng = np.random.RandomState(11)
    rows = []  # (event_id, ts_us or None, user_id, event_type, value, props)
    US = 1_000_000
    t0 = 1704067200 * US  # 2024-01-01 00:00:00 UTC in epoch micros

    eid = 0

    def add(ts_us, user, etype, value, props='{"k": 1}'):
        nonlocal eid
        rows.append((eid, ts_us, user, etype, value, props))
        eid += 1

    # ~200 normal rows: 5 users, 3 types, randomish spacing
    types = ["signup", "purchase", "error"]
    for u in range(5):
        t = t0 + u * 37 * US
        for i in range(40):
            t += int(rng.randint(5, 4000)) * US + int(rng.randint(0, US))
            add(t, u, types[int(rng.randint(0, 3))], round(float(rng.uniform(-50, 500)), 2))

    # exact session-gap boundary: two events exactly 1800s apart,
    # and a pair 1800s + 1us apart
    add(t0, 100, "signup", 1.0)
    add(t0 + 1800 * US, 100, "purchase", 2.0)
    add(t0 + 10_000 * US, 101, "signup", 3.0)
    add(t0 + 10_000 * US + 1800 * US + 1, 101, "purchase", 4.0)

    # duplicate timestamps: same user, same ts, different event ids
    add(t0 + 50 * US, 102, "purchase", 10.0)
    add(t0 + 50 * US, 102, "error", 20.0)
    add(t0 + 50 * US, 102, "signup", 30.0)
    # identical full row content except event_id
    add(t0 + 60 * US, 102, "purchase", 10.0)
    add(t0 + 60 * US, 102, "purchase", 10.0)

    # NULL user_id (valid ts), NULL ts (valid user), both NULL
    add(t0 + 70 * US, None, "purchase", 5.5)
    add(t0 + 71 * US, None, "error", -1.0)
    add(None, 103, "signup", 7.0)
    add(None, None, None, None, None)

    # NULL / NaN / ±Inf / extreme values
    add(t0 + 80 * US, 104, "purchase", None)
    add(t0 + 81 * US, 104, "purchase", float("nan"))
    add(t0 + 82 * US, 104, "error", float("inf"))
    add(t0 + 83 * US, 104, "error", float("-inf"))
    add(t0 + 84 * US, 104, "purchase", 1e308)
    add(t0 + 85 * US, 104, "purchase", -1e308)
    add(t0 + 86 * US, 104, "purchase", 5e-324)
    add(t0 + 87 * US, 104, "purchase", -0.0)

    # timestamp extremes (inside pandas datetime64[ns] range)
    add(0, 105, "signup", 1.0)                       # epoch 0
    add(-315619200 * US, 105, "purchase", 2.0)       # 1960
    add(7258118400 * US, 105, "error", 3.0)          # 2200-01-01
    add(1 , 105, "purchase", 4.0)                    # epoch + 1us

    # event_type pathologies
    add(t0 + 90 * US, 106, None, 1.0)
    add(t0 + 91 * US, 106, "", 2.0)
    add(t0 + 92 * US, 106, "päivitys🚀", 3.0)
    add(t0 + 93 * US, 106, "x" * 500, 4.0)
    add(t0 + 94 * US, 106, "O'Reilly \"quoted\" \\type", 5.0)

    # props pathologies
    add(t0 + 95 * US, 107, "signup", 1.0, None)
    add(t0 + 96 * US, 107, "signup", 2.0, "")
    add(t0 + 97 * US, 107, "signup", 3.0, "{not json")
    add(t0 + 98 * US, 107, "signup", 4.0, '{"k": null}')
    add(t0 + 99 * US, 107, "signup", 5.0, '{"k": {"nested": [1,2]}}')
    add(t0 + 100 * US, 107, "signup", 6.0, '{"k": 3, "extra": "x\\"y"}')

    # shuffle file order so nothing can rely on write order
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]

    _write(base, "events", rows, [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ])
    return _link_clean(base)

def build_hostile_orders(base: str) -> str:
    """Adversarial orders + lineitem star-schema pair: NULL join keys /
    dates / measures, NaN/±Inf/1e308 money, negative and huge
    quantities, orphan and childless keys, epoch-extreme dates,
    pathological status/priority/flag strings, shuffled file order.
    Key UNIQUENESS is deliberately preserved: o_orderkey /
    (l_orderkey, l_linenumber) are the table contract (the
    profile_quality_checks op is the quarantine path for violations);
    everything else is fair game."""
    os.makedirs(base, exist_ok=True)

    rng = np.random.RandomState(13)
    US = 1_000_000
    day0 = 788918400 * US  # 1995-01-01 UTC epoch micros

    statuses = ["O", "F", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    flags = ["A", "N", "R"]

    orders = []  # (okey, ckey, status, totalprice, odate_us, prio)
    lines = []   # (okey, pkey, skey, lno, qty, price, disc, tax, rf, ls, sdate_us)

    def odate(i):
        return day0 + int(i) * 86400 * US

    # ~120 normal orders with 1-4 lineitems each
    for ok in range(1000, 1120):
        d = odate(rng.randint(0, 900))
        orders.append(
            (ok, int(rng.randint(1, 30)), statuses[int(rng.randint(0, 3))],
             round(float(rng.uniform(100, 300000)), 2), d,
             prios[int(rng.randint(0, 5))])
        )
        for ln in range(1, int(rng.randint(2, 5))):
            lines.append(
                (ok, int(rng.randint(1, 50)), int(rng.randint(1, 20)), ln,
                 float(rng.randint(1, 50)),
                 round(float(rng.uniform(100, 90000)), 2),
                 round(float(rng.choice([0.0, 0.01, 0.05, 0.1])), 2),
                 round(float(rng.choice([0.0, 0.02, 0.08])), 2),
                 flags[int(rng.randint(0, 3))], "O",
                 d + int(rng.randint(1, 90)) * 86400 * US)
            )

    # hostile orders
    H = 2000
    orders += [
        (H + 0, None, "O", 500.0, odate(10), "1-URGENT"),      # NULL custkey
        (H + 1, 5, "O", 500.0, None, "2-HIGH"),                 # NULL orderdate
        (H + 2, 5, "O", None, odate(11), "3-MEDIUM"),           # NULL totalprice
        (H + 3, 5, "O", float("nan"), odate(12), "5-LOW"),      # NaN money
        (H + 4, 5, "O", float("inf"), odate(13), "5-LOW"),      # +Inf
        (H + 5, 5, "O", float("-inf"), odate(14), "5-LOW"),     # -Inf
        (H + 6, 5, "O", 1e308, odate(15), "5-LOW"),             # overflow money
        (H + 7, 5, "O", -1e308, odate(16), "5-LOW"),
        (H + 8, 5, "O", -0.0, odate(17), "5-LOW"),              # negative zero
        (H + 9, 5, "O", 5e-324, odate(18), "5-LOW"),            # denormal
        (H + 10, 5, None, 100.0, odate(19), "4-NOT SPECIFIED"), # NULL status
        (H + 11, 5, "", 100.0, odate(20), ""),                  # empty strings
        (H + 12, 5, "Ø🚀", 100.0, odate(21), "prio'\"\\x"),     # unicode/quotes
        (H + 13, 5, "O", 100.0, 0, "1-URGENT"),                 # epoch 0
        (H + 14, 5, "O", 100.0, -315619200 * US, "1-URGENT"),   # 1960
        (H + 15, 5, "O", 100.0, 7258118400 * US, "1-URGENT"),   # 2200
        (H + 16, 5, "O", 250.0, odate(22), "2-HIGH"),           # childless order
        (None, 5, "O", 100.0, odate(23), "1-URGENT"),           # NULL orderkey
    ]
    # hostile lineitems (children of H-block orders where sensible)
    sd = odate(30)
    lines += [
        (H + 0, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", sd),
        (H + 1, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", None),   # NULL shipdate
        (H + 2, 1, 1, 1, None, 100.0, 0.05, 0.02, "N", "O", sd),    # NULL qty
        (H + 3, 1, 1, 1, float("nan"), float("nan"), 0.05, 0.02, "N", "O", sd),
        (H + 4, 1, 1, 1, 5.0, float("inf"), 0.05, 0.02, "N", "O", sd),
        (H + 5, 1, 1, 1, 5.0, float("-inf"), 0.05, 0.02, "N", "O", sd),
        (H + 6, 1, 1, 1, 5.0, 1e308, 0.05, 0.02, "N", "O", sd),
        (H + 7, 1, 1, 1, -4.0, -1e308, 0.05, 0.02, "R", "F", sd),   # negative qty
        (H + 8, 1, 1, 1, 1e12, 100.0, 0.05, 0.02, "N", "O", sd),    # huge qty
        (H + 9, 1, 1, 1, 5.0, 100.0, None, None, "N", "O", sd),     # NULL disc/tax
        (H + 10, None, None, 1, 5.0, 100.0, 0.05, 0.02, None, None, sd),  # NULL keys/flags
        (H + 11, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "", "", sd),
        (H + 12, 1, 1, 1, 5.0, 100.0, 1.0, 0.0, "Ŕ", "Ś", sd),      # 100% discount
        (H + 13, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", 0),     # epoch-0 ship
        (H + 14, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", -315619200 * US),
        (H + 15, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", 7258118400 * US),
        (9_999_999, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, "N", "O", sd), # orphan
        (None, 1, 1, 2, 5.0, 100.0, 0.05, 0.02, "N", "O", sd),      # NULL orderkey
    ]

    oorder = rng.permutation(len(orders))
    orders = [orders[i] for i in oorder]
    lorder = rng.permutation(len(lines))
    lines = [lines[i] for i in lorder]

    _write(base, "orders", orders, [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ])
    _write(base, "lineitem", lines, [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ])
    return _link_clean(base)


def build_hostile_dims(base: str) -> str:
    """Adversarial dimension tables joined to CLEAN facts: NULL keys and
    names, unicode case-folding traps (ß, Turkish İ/ı, combining
    diacritics), emoji/CJK, embedded newlines/tabs/quotes/backslashes
    (the CSV/JSON boundary killers), leading/trailing/interior spaces,
    500-char names, case-duplicate names, NaN/±Inf/NULL balances,
    negative and duplicate-free keys. Facts come from SMOKE so every
    dim-join chain exercises hostile dim rows against real keys."""
    os.makedirs(base, exist_ok=True)

    rng = np.random.RandomState(17)
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    weird = [
        None, "", " ", "  padded  ", "straße", "STRASSE", "İstanbul",
        "ıstanbul", "Customer#000", "customer#000", "éclair",  # é decomposed
        "éclair", "名前🚀", "O'Reilly \"quoted\" \\ name", "line\nbreak",
        "tab\tsep", "x" * 500, "ꙮ",
    ]

    # customer: 40 normal (keys 1..40 — matching smoke fact custkeys) + hostile
    cust = [
        (k, f"Customer#{k:09d}", int(rng.randint(0, 25)),
         round(float(rng.uniform(-999, 9999)), 2), segs[int(rng.randint(0, 5))])
        for k in range(1, 41)
    ]
    hk = 500
    for i, w in enumerate(weird):
        cust.append((hk + i, w, int(rng.randint(0, 25)), 100.0, segs[i % 5]))
    cust += [
        (hk + 50, "NaN bal", 1, float("nan"), "BUILDING"),
        (hk + 51, "inf bal", 1, float("inf"), "BUILDING"),
        (hk + 52, "null bal", 1, None, "BUILDING"),
        (hk + 53, "null seg", 1, 1.0, None),
        (hk + 54, "null nation", None, 1.0, "BUILDING"),
        (None, "null key", 1, 1.0, "BUILDING"),
        (-7, "negative key", 1, 1.0, "BUILDING"),
    ]
    _write(base, "customer", cust, [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int64()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ])

    supp = [
        (k, f"Supplier#{k:09d}", int(rng.randint(0, 25)),
         round(float(rng.uniform(-999, 9999)), 2))
        for k in range(1, 21)
    ]
    supp += [
        (600, None, 1, 1.0),
        (601, "straße", None, float("nan")),
        (602, "Customer#000000001", 2, 1.0),  # name collides with customer
        (None, "null key supp", 3, 1.0),
    ]
    _write(base, "supplier", supp, [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int64()),
        ("s_acctbal", pa.float64()),
    ])

    types = ["PROMO", "STANDARD", "ECONOMY", None, "", "promo\nanodized"]
    parts = [
        (k, f"part {k} name", f"Brand#{k % 5}", types[k % len(types)],
         int(rng.randint(1, 50)), round(float(rng.uniform(900, 2000)), 2))
        for k in range(1, 51)
    ]
    parts += [
        (700, None, None, "PROMO", None, None),
        (701, "dup name part", "Brand#1", "PROMO", 1, float("inf")),
        (702, "dup name part", "Brand#1", "PROMO", 1, 1000.0),
        (None, "null key part", "Brand#2", "STANDARD", 2, 1000.0),
    ]
    _write(base, "part", parts, [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_type", pa.string()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ])

    nations = [
        (k, n, k % 5)
        for k, n in enumerate(
            ["NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4",
             "ülke", "ÜLKE", "nation\nwrapped", "nation,comma", 'nation"quote',
             "nation\\back", " nation pad ", ""]
        )
    ]
    nations += [(13, None, 2), (None, "null key nation", 3)]
    _write(base, "nation", nations, [
        ("n_nationkey", pa.int64()),
        ("n_name", pa.string()),
        ("n_regionkey", pa.int64()),
    ])

    regions = [(0, "REGION_0"), (1, "REGION_1"), (2, None), (3, "région🌍"), (4, ""), (None, "null key region")]
    _write(base, "region", regions, [("r_regionkey", pa.int64()), ("r_name", pa.string())])
    return _link_clean(base)


HOSTILE_TEXTS = [
    "plain ordinary text the quick fox",
    "backslash C:\\path\\to\\file and trailing \\",
    'quotes "double" and \'single\' and `tick`',
    "tab\tseparated\twords here",
    "newline\nsplit\nlines end",
    "carriage\rreturn mix\r\n windows",
    "control\x01chars\x02embedded\x1fhere",
    "bell\x07and backspace\x08and formfeed\x0c",
    "del char \x7f stays",
    "nbsp\u00a0between\u00a0words wide",
    "unicode caf\u00e9 stra\u00dfe \u4e2d\u6587\u6587\u6863 \U0001f680 rocket",
    "combining a\u0301ccent e\u0301toile marks",
    "",
    " ",
    "   \n\t  ",
    "single",
    "x" * 5000,
    ("dup dup dup " * 40).strip(),
    "1234 5678 90 42 007 3.14159",
    ".,;:!? .,;:!? punctuation only",
    "the a and of to the a and of to stopwords heavy",
    'json breaker {"key": "val\\ue"} end',
    "sql 'injection' -- attempt; DROP TABLE x;",
    "mixed\u00a0nbsp and\ttab and\nnewline and \\ slash",
    "trailing newline ends here\n",
    "\nleading newline starts",
    "repeat " + "token " * 200,
    "MiXeD CaSe \u00dcPPER lower \u1e9eharp",
    "emoji run \U0001f600\U0001f601\U0001f602 done",
    "zero\u200bwidth\u200bspace joined",
    None,  # failed upstream fetch — the case that crashed 2 operators
]


def build_hostile_docs(base: str) -> str:
    """Adversarial `documents`: control chars, backslashes, quotes,
    NBSP/zero-width/unicode special-casing, empty and whitespace-only
    strings, huge tokens, and NULL text (HOSTILE_TEXTS)."""
    os.makedirs(base, exist_ok=True)
    langs = ["en", "de", "fr", "es", "zh"]
    docs = [
        (i, t, langs[i % 5], f"src{i % 20}", len(t) if t is not None else 0)
        for i, t in enumerate(HOSTILE_TEXTS)
    ]
    _write(base, "documents", docs, [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ])
    return _link_clean(base)


DIM = 64


def _hostile_vectors():
    rng = np.random.RandomState(7)

    def norm(v):
        return (v / np.linalg.norm(v)).astype(np.float32)

    vecs = [norm(rng.randn(DIM)) for _ in range(30)]
    hostile = [
        np.zeros(DIM, dtype=np.float32),          # zero norm
        np.full(DIM, np.nan, dtype=np.float32),   # all NaN
        None,                                     # NULL cell
        np.full(DIM, 1e30, dtype=np.float32),     # huge magnitude
        np.full(DIM, 1e-40, dtype=np.float32),    # float32 denormal
        np.full(DIM, -0.0, dtype=np.float32),     # negative zero
    ]
    nan1 = norm(rng.randn(DIM)); nan1[7] = np.nan
    inf1 = norm(rng.randn(DIM)); inf1[3] = np.inf
    ninf = norm(rng.randn(DIM)); ninf[5] = -np.inf
    hostile += [nan1, inf1, ninf]
    # ragged-but-finite vectors (schema drift): every component is a
    # clean float, only the length is wrong — the case only the dim
    # contract catches (a NaN-style guard passes these through into
    # NULL-padded zip_with garbage / Arrow vstack crashes)
    hostile.append(norm(rng.randn(DIM - 1)))      # truncated (63)
    hostile.append(norm(rng.randn(DIM + 1)))      # over-length (65)
    # SQL-NULL component (partial upstream write): the engine's forall
    # yields NULL → dropped; the oracle's list_filter must test
    # `x IS NULL OR NOT isfinite(x)` — bare isfinite(NULL) is NULL and
    # DuckDB would silently skip the element, keeping the row
    withnull = [float(x) for x in norm(rng.randn(DIM))]
    withnull[11] = None
    hostile.append(withnull)
    hostile.append(vecs[0].copy())                # exact duplicate
    nd = vecs[1].copy(); nd[0] += np.float32(1e-7)
    hostile.append(nd)                            # near duplicate
    return vecs + hostile


def build_hostile_emb(base: str) -> str:
    """Adversarial `embeddings`: NULL cells, all/partial NaN, ±Inf
    components, zero vectors, 1e30 magnitudes, float32 denormals,
    negative zero, wrong lengths, a NULL component, exact/near
    duplicates (_hostile_vectors)."""
    os.makedirs(base, exist_ok=True)
    vecs = [
        (i, None if v is None else [None if x is None else float(x) for x in v], i % 10)
        for i, v in enumerate(_hostile_vectors())
    ]
    _write(base, "embeddings", vecs, [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ])
    return _link_clean(base)
