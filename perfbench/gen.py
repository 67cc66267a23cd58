"""Seeded input generators for the perfbench workloads.

Everything a workload feeds the program is made here from the seed alone
(plus the run length), so the same seed gives byte-identical inputs. The
program never sees the generator: it reads the parquet tables and JSON
plans written below.

Traffic dimensions of the event stream (see README.md):
  * Zipf-skewed activity per user (hot anonymous ids build deep buffers);
  * ~15% of users identify (a signup, later purchases carry the user id);
    in the 30-day bulk stream half of them identify only after a gap
    longer than the recognition lookback, so their earlier events expire
    unrecognised;
  * 10% of events are redelivered verbatim into the next micro-batch;
  * ~0.1% corrupt lines, which the pipeline must quarantine;
  * a 30-day event-time span (bulk); one minute per batch (live).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in microseconds: the operator gates' oracles pin
# dates inside January 2024, so every generated stream starts here.
T0_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
MIN_US = 60 * 1_000_000

# user recognition lookback handed to the pipeline (URConfig.lookbackDays)
UR_LOOKBACK_DAYS = 1
ANON_TYPES = np.array(["view", "click", "error"])
ANON_P = np.array([0.5, 0.35, 0.15])

# Per-workload sizes. A run's fixed work scales with --seconds through
# these nominal rates, measured on a 4-core host so that the measured
# phase lasts about --seconds there.
INGEST = {
    "ingest_bulk": dict(span_us=30 * DAY_US, batch_events=3500,
                        batches_per_s=0.3, users=3000),
    "ingest_live": dict(span_us=None, batch_events=300,
                        batches_per_s=0.8, users=3000),
}
CONSOLE = dict(base_events=8000, users=2000, append_events=200,
               requests_per_s=1.2, block=8)
# Gates of the operators workload: one per kernel family (text spans,
# dedup, graph, ANN, SaaS projection, batch recognition + profiles, UA
# parsing, function chain).
OPERATOR_GATES = [
    "td_span_corrupt", "dedup_minhash_lsh", "g1_pagerank",
    "emb_margin_mining_ivf", "k3_amplitude", "j5c_incremental_profiles",
    "f2b_ua_taxonomy", "r1_chain",
]
# one measured pass over the gates takes about this long on 4 cores
OPERATOR_PASS_S = 5


def rng_for(seed, stream):
    """An independent generator per (seed, named stream)."""
    key = [int(seed) & 0xFFFFFFFF, sum(ord(c) * 131 ** i
                                       for i, c in enumerate(stream)) & 0xFFFFFFFF]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _write_parquet(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def gen_events(rng, n_events, users, t_start_us, span_us, id_base=0,
               late_identifies=False):
    """Raw rows in the gates' `events` table shape (event_id, ts, user_id,
    event_type, value, props), sorted by time.

    The traffic's structure is fixed and only its details are drawn from
    the seed, so seeds differ in which ids and times occur, not in how
    heavy the work is: activity is Zipf by rank, users get ranks by a
    seeded permutation, the busiest user never identifies (a hot
    anonymous id), and every 7th rank after it identifies (~15%).
    Identifying users get one signup; their events after it are
    purchases with probability 0.1 (both carry the user id once
    enveloped). With `late_identifies`, every other identifying rank
    goes quiet for longer than the recognition lookback before the
    signup."""
    rank_user = rng.permutation(users)
    rank = rng.choice(users, size=n_events, p=zipf_weights(users))
    uid = rank_user[rank]
    ts = t_start_us + rng.integers(0, span_us, size=n_events)
    etype = rng.choice(ANON_TYPES, size=n_events, p=ANON_P).astype(object)
    ident_ranks = np.arange(3, users, 7)
    ident_users = rank_user[ident_ranks]
    late = (np.arange(len(ident_ranks)) % 2 == 0) & late_identifies
    keep = np.ones(n_events, dtype=bool)
    # the signup sits in the middle third of the span
    sign_ts = t_start_us + span_us // 3 + rng.integers(0, span_us // 3,
                                                        size=len(ident_users))
    gap = (UR_LOOKBACK_DAYS * DAY_US) + 2 * 3600 * 1_000_000
    sign_of = dict(zip(ident_users.tolist(), sign_ts.tolist()))
    late_of = dict(zip(ident_users.tolist(), late.tolist()))
    is_ident = np.isin(uid, ident_users)
    for i in np.nonzero(is_ident)[0]:
        u = int(uid[i]); s = sign_of[u]
        if late_of[u] and s - gap <= ts[i] < s:
            keep[i] = False  # the quiet gap before a late identify
        elif ts[i] > s and rng.random() < 0.1:
            etype[i] = "purchase"
    uid, ts, etype = uid[keep], ts[keep], etype[keep]
    # one signup row per identifying user
    uid = np.concatenate([uid, ident_users])
    ts = np.concatenate([ts, sign_ts])
    etype = np.concatenate([etype, np.array(["signup"] * len(ident_users),
                                             dtype=object)])
    order = np.lexsort((uid, ts))
    uid, ts, etype = uid[order], ts[order], etype[order]
    n = len(uid)
    value = np.round(rng.uniform(1, 500, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return {
        "event_id": np.arange(id_base, id_base + n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": uid.astype(np.int64),
        "event_type": etype.astype(str),
        "value": value,
        "props": np.array([f'{{"k": {int(x)}}}' for x in k]),
    }, set(ident_users.tolist())


def corrupt_lines(rng, n, tag):
    """Distinct lines the pipeline must quarantine: broken JSON, JSON
    without an event type, and non-JSON noise."""
    out = []
    for i in range(n):
        h = "".join(rng.choice(list("0123456789abcdef"), size=12))
        kind = i % 3
        if kind == 0:
            out.append(f'{{"message_id": "bad-{tag}-{i}-{h}", "type": "tra')
        elif kind == 1:
            out.append(f'{{"message_id": "bad-{tag}-{i}-{h}", "event": "no_type"}}')
        else:
            out.append(f"garbage {tag} {i} {h}")
    return out


def ingest_inputs(workload, seed, seconds, out_dir):
    """The backlog of an ingest workload; the warm-up and every measured
    phase drain all of it, each into a fresh warehouse."""
    cfg = INGEST[workload]
    os.makedirs(out_dir, exist_ok=True)
    n_batches = max(4, round(seconds * cfg["batches_per_s"]) + 1)
    bulk = cfg["span_us"] is not None
    rng = rng_for(seed, workload)
    ev, ident = gen_events(rng, n_batches * cfg["batch_events"], cfg["users"], T0_US,
                           cfg["span_us"] if bulk else n_batches * MIN_US,
                           late_identifies=bulk)
    n = len(ev["event_id"])
    # contiguous time slices of equal size: slice b = one micro-batch
    sl = (np.arange(n) * n_batches // n).astype(np.int32)
    ev["slice"] = sl
    ev["redeliver_to"] = np.where(rng.random(n) < 0.10,
                                  np.minimum(sl + 1, n_batches - 1), -1).astype(np.int32)
    # All corrupt lines of a drain arrive in one micro-batch (the middle
    # one). A second batch holding corrupt lines fails the stream today:
    # with deduplicate=true the sink MERGEs the quarantine table on
    # message_id, a column quarantine rows do not have. Spread them over
    # the drain once that is fixed.
    bad = [{"slice": n_batches // 2, "line": line}
           for line in corrupt_lines(rng, max(1, round(n * 0.001)), f"s{seed}")]
    path = os.path.join(out_dir, "events.parquet")
    _write_parquet(path, ev)
    return {"workload": workload, "ur_lookback_days": UR_LOOKBACK_DAYS,
            "ur_watermark": "10 minutes",
            "stream": {"events": path, "batches": n_batches, "corrupt": bad,
                       "identified_users": sorted(ident)}}


# ---------------------------------------------------------------- console

REPORTS = [
    # per-type counts in a window
    "SELECT type, COUNT(*) AS n FROM events WHERE timestamp >= TIMESTAMP '{lo}' "
    "AND timestamp < TIMESTAMP '{hi}' GROUP BY type ORDER BY type",
    # top events by distinct visitors in a window
    "SELECT event, COUNT(DISTINCT anonymous_id) AS visitors FROM events "
    "WHERE timestamp >= TIMESTAMP '{lo}' AND timestamp < TIMESTAMP '{hi}' "
    "GROUP BY event ORDER BY visitors DESC, event LIMIT 10",
    # identified share per connection
    "SELECT connection_id, COUNT(*) AS n, COUNT(user_id) AS identified "
    "FROM events WHERE timestamp >= TIMESTAMP '{lo}' GROUP BY connection_id "
    "ORDER BY connection_id",
    # most active identified users
    "SELECT user_id, COUNT(*) AS n FROM events WHERE user_id IS NOT NULL "
    "AND timestamp < TIMESTAMP '{hi}' GROUP BY user_id "
    "ORDER BY n DESC, user_id LIMIT 20",
]
ROLLUP = ("SELECT date_trunc('DAY', timestamp) AS day, type, COUNT(*) AS n "
          "FROM events WHERE type = '{t}' GROUP BY date_trunc('DAY', timestamp), type")


def _ts_str(us):
    return str(np.datetime64(int(us), "us")).replace("T", " ")


def console_inputs(seed, seconds, out_dir):
    """Base warehouse rows, append slices and the request sequence."""
    c = CONSOLE
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "console")
    base, _ = gen_events(rng, c["base_events"], c["users"], T0_US,
                         30 * DAY_US)
    n_req = max(2 * c["block"], round(seconds * c["requests_per_s"] / c["block"])
                * c["block"])
    n_blocks = n_req // c["block"]
    # appends: fresh events in the last days plus 10% redeliveries of
    # already-landed rows (the MERGE must collapse them)
    next_id = int(base["event_id"][-1]) + 1
    appends = []
    for j in range(n_blocks):
        a, _ = gen_events(rng, c["append_events"], c["users"],
                          T0_US + 27 * DAY_US, 3 * DAY_US,
                          id_base=next_id)
        next_id += len(a["event_id"])
        recent = np.nonzero(base["ts"] >= np.datetime64(T0_US + 27 * DAY_US, "us"))[0]
        dup = rng.choice(recent, size=c["append_events"] // 10, replace=False)
        for k in a:
            a[k] = np.concatenate([a[k], base[k][dup]])
        a["slice"] = np.full(len(a["event_id"]), j, dtype=np.int32)
        appends.append(a)
    path_base = os.path.join(out_dir, "base_events.parquet")
    _write_parquet(path_base, base)
    path_app = os.path.join(out_dir, "append_events.parquet")
    _write_parquet(path_app, {k: np.concatenate([a[k] for a in appends])
                              for k in appends[0]})

    # two dashboards: the reports the cache is meant for
    dash_lo = T0_US + int(rng.integers(0, 14)) * DAY_US
    dashboards = [REPORTS[i].format(lo=_ts_str(dash_lo), hi=_ts_str(dash_lo + 14 * DAY_US))
                  for i in rng.choice(len(REPORTS), size=2, replace=False)]

    def report():
        t = int(rng.integers(0, len(REPORTS)))
        d0 = int(rng.integers(0, 25))
        lo = T0_US + d0 * DAY_US + int(rng.integers(0, 24)) * 3600 * 1_000_000
        hi = lo + int(rng.integers(1, 6)) * DAY_US
        return REPORTS[t].format(lo=_ts_str(lo), hi=_ts_str(hi))

    def block(j, profile_now):
        # six seeded reads around one append, then one MV refresh; the
        # reads after the append must see it
        reads = ["query", "query", "cached", "cached", "rollup", "profile"]
        rng.shuffle(reads)
        dash = dashboards[int(rng.integers(0, 2))]
        reqs = []
        for kind in reads[:3] + ["write"] + reads[3:] + ["mv_refresh"]:
            r = {"kind": kind}
            if kind == "query":
                r["sql"] = report()
            elif kind == "cached":
                r["sql"] = dash
            elif kind == "rollup":
                r["sql"] = ROLLUP.format(t=["page", "track", "identify"][
                    int(rng.integers(0, 3))])
            elif kind == "write":
                r["slice"] = j
            elif kind == "profile":
                r["now_us"] = profile_now
            reqs.append(r)
        return reqs

    # profile cycles walk forward through the span, one per block
    cuts = np.linspace(T0_US + 3 * DAY_US, T0_US + 30 * DAY_US, n_blocks + 1)
    reqs = [r for j in range(n_blocks) for r in block(j, int(cuts[j + 1]))]
    return {"workload": "console", "base": path_base, "appends": path_app,
            "requests": reqs}


# -------------------------------------------------------------- operators

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def operator_inputs(seed, seconds, out_dir, n_docs=80, n_vecs=120, n_events=400):
    """A small table set in the gates' input shapes (TPC-H-ish star + events +
    documents + embeddings) and the seeded gate order."""
    rng = rng_for(seed, "operators")
    os.makedirs(out_dir, exist_ok=True)
    # documents: random word streams; a fifth copy a 12-word span of an
    # earlier document so the dedup gates find real duplicates
    docs = []
    for i in range(n_docs):
        words = list(rng.choice(VOCAB, size=int(rng.integers(10, 60))))
        if i >= 5 and rng.random() < 0.2:
            src = docs[int(rng.integers(0, i))].split()
            at = int(rng.integers(0, max(1, len(src) - 12)))
            pos = int(rng.integers(0, len(words)))
            words[pos:pos] = src[at:at + 12]
        docs.append(" ".join(words))
    _write_parquet(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(docs),
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], size=n_docs),
        "source": np.array([f"src{int(x)}" for x in rng.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    # embeddings: 10 labelled clusters on the unit sphere
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    v = centers[label] + 0.6 * rng.normal(size=(n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    })
    # events: the stream generator at small size over January 2024
    ev, _ = gen_events(rng, n_events, 60, T0_US, 30 * DAY_US)
    _write_parquet(os.path.join(out_dir, "events.parquet"), ev)
    _tpch(rng, out_dir)
    order = list(OPERATOR_GATES)
    rng.shuffle(order)
    passes = max(1, round(seconds / OPERATOR_PASS_S))
    return {"workload": "operators", "dir": out_dir, "gates": order,
            "passes": passes}


def _tpch(rng, d, customers=50, suppliers=10, parts=50, orders=300, lines=1000):
    i32, i64 = np.int32, np.int64
    _write_parquet(os.path.join(d, "region.parquet"), {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write_parquet(os.path.join(d, "nation.parquet"), {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    _write_parquet(os.path.join(d, "customer.parquet"), {
        "c_custkey": np.arange(customers, dtype=i64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": rng.integers(0, 25, customers).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], customers)})
    _write_parquet(os.path.join(d, "supplier.parquet"), {
        "s_suppkey": np.arange(suppliers, dtype=i64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": rng.integers(0, 25, suppliers).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, suppliers), 2)})
    _write_parquet(os.path.join(d, "part.parquet"), {
        "p_partkey": np.arange(parts, dtype=i64),
        "p_name": np.array([f"{a} widget" for a in
                            rng.choice(["cold", "small", "big", "red"], parts)]),
        "p_brand": np.array([f"Brand#{int(x)}" for x in rng.integers(1, 25, parts)]),
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], parts),
        "p_size": rng.integers(1, 50, parts).astype(i32),
        "p_retailprice": np.round(900 + np.arange(parts) * 0.1, 2)})
    odate = np.datetime64("1995-01-01") + rng.integers(0, 1500, orders)
    _write_parquet(os.path.join(d, "orders.parquet"), {
        "o_orderkey": np.arange(orders, dtype=i64),
        "o_custkey": rng.integers(0, customers, orders).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": np.round(rng.uniform(1000, 300000, orders), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], orders)})
    ok = rng.integers(0, orders, lines).astype(i64)
    _write_parquet(os.path.join(d, "lineitem.parquet"), {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, parts, lines).astype(i64),
        "l_suppkey": rng.integers(0, suppliers, lines).astype(i64),
        "l_linenumber": rng.integers(1, 8, lines).astype(i32),
        "l_quantity": rng.integers(1, 51, lines).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, lines), 2),
        "l_discount": np.round(rng.integers(0, 11, lines) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, lines) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], lines),
        "l_linestatus": rng.choice(["F", "O"], lines),
        "l_shipdate": (odate[ok] + rng.integers(1, 120, lines)).astype("datetime64[us]")})


def make_inputs(workload, seed, seconds, out_dir):
    if workload in INGEST:
        plan = ingest_inputs(workload, seed, seconds, out_dir)
    elif workload == "console":
        plan = console_inputs(seed, seconds, out_dir)
    elif workload == "operators":
        plan = operator_inputs(seed, seconds, out_dir)
    else:
        raise ValueError(f"unknown workload {workload}")
    plan["seed"] = seed
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return plan
