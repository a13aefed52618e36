"""Seeded input generators for the benchmark: the analysts' tables and
ops, the uploader's event batches, and the curation corpus.

Everything here is numpy/pandas only: the same seed gives byte-identical
frames (``digest`` hashes them so a run can prove it), and the program
under test only ever sees the frames, never the seed.

Shared-work properties each workload depends on are fixed here and
returned in ``props`` so a run can print them next to its metrics.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# analyst_sql: a TPC-H-style star plus a TD-style events table
# --------------------------------------------------------------------------

ANALYST_SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 2_000,
    "orders": 20_000,
    "lineitem": 80_000,
    "events": 40_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: orders/lineitem dates span 1995-01-01 + [0, 2400) days
DATE0 = pd.Timestamp("1995-01-01")
DATE_SPAN_DAYS = 2400
#: events span 30 days from 2024-01-01 (epoch seconds in ``time``)
EVENTS_T0 = int(pd.Timestamp("2024-01-01").timestamp())
EVENTS_SPAN_S = 30 * 86400


def analyst_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 1])
    n = ANALYST_SIZES
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:07d}" for i in range(1, nc + 1)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            # cents, so sums and top-k orders are exact in any engine
            "c_acctbal": rng.integers(-99_999, 999_999, nc) / 100.0,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    no = n["orders"]
    odate = DATE0 + pd.to_timedelta(rng.integers(0, DATE_SPAN_DAYS, no), unit="D")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": rng.integers(100_00, 500_000_00, no) / 100.0,
            "o_orderdate": odate,
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"])[
                rng.integers(0, 3, no)
            ],
        }
    )
    nl = n["lineitem"]
    l_ok = np.sort(rng.integers(1, no + 1, nl)).astype(np.int64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_ok,
            "l_linenumber": (
                pd.Series(l_ok).groupby(l_ok).cumcount().to_numpy() + 1
            ).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": rng.integers(900_00, 100_000_00, nl) / 100.0,
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": odate.to_numpy()[l_ok - 1]
            + pd.to_timedelta(rng.integers(1, 120, nl), unit="D").to_numpy(),
        }
    )
    ne = n["events"]
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "time": np.sort(EVENTS_T0 + rng.integers(0, EVENTS_SPAN_S, ne)).astype(
                np.int64
            ),
            "user_id": rng.integers(0, 2_000, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": rng.integers(1, 100_000, ne) / 100.0,
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


#: per-table ``to_td`` time source: a date column becomes the TD ``time``
#: column, the rest carry a pinned constant (never wall clock)
ANALYST_TIME_COLS = {"orders": "o_orderdate", "lineitem": "l_shipdate"}

#: op kinds: seven ``read_td_query`` templates and a ``read_td_table`` scan;
#: the first half is one analyst's, the second half the other's
ANALYST_KINDS = (
    "q_join_agg",
    "q_point",
    "q_topk",
    "q_window",
    "q_td_range",
    "q_td_trunc",
    "q_td_format",
    "t_events",
)
ANALYST_REPEAT_SHARE = 0.5
ANALYST_CLIENTS = 2
#: ``read_td_table`` limit; above the rows a scan's time range holds on
#: average, so most scans return the whole range
ANALYST_SCAN_LIMIT = 500


def _day(d: int) -> str:
    return (DATE0 + pd.Timedelta(days=int(d))).strftime("%Y-%m-%d %H:%M:%S")


def _ev(t: int) -> str:
    return pd.Timestamp(int(t), unit="s").strftime("%Y-%m-%d %H:%M:%S")


def analyst_op(kind: str, rng: np.random.Generator) -> dict:
    """One fresh op: its kind and the parameters both engines render."""
    p: dict = {"kind": kind}
    if kind == "q_join_agg":
        d0 = int(rng.integers(0, DATE_SPAN_DAYS - 400))
        p.update(region=REGIONS[int(rng.integers(0, 5))], d0=d0, d1=d0 + 365)
    elif kind == "q_point":
        p.update(k=int(rng.integers(1, ANALYST_SIZES["orders"] + 1)))
    elif kind == "q_topk":
        p.update(n=int(rng.integers(0, 25)), k=int(rng.integers(5, 50)))
    elif kind == "q_window":
        p.update(c0=int(rng.integers(1, ANALYST_SIZES["customer"] - 40)))
    elif kind in ("q_td_range", "q_td_trunc", "q_td_format", "t_events"):
        span = {"q_td_range": 86400, "q_td_trunc": 7 * 86400}.get(kind, 3 * 3600)
        s = EVENTS_T0 + int(rng.integers(0, EVENTS_SPAN_S - span)) // 60 * 60
        p.update(s=s, e=s + span)
        if kind == "t_events":
            p.update(limit=ANALYST_SCAN_LIMIT)
    else:
        raise ValueError(kind)
    return p


def analyst_kinds(client: int) -> tuple[str, ...]:
    """The templates a client issues: each analyst works on their own
    half of ``ANALYST_KINDS`` (the TPC-H side or the events side)."""
    step = len(ANALYST_KINDS) // ANALYST_CLIENTS
    return ANALYST_KINDS[client * step : (client + 1) * step]


def analyst_rounds(seed: int, client: int, n_rounds: int) -> list[list[dict]]:
    """A client's op sequence in rounds. A round takes the client's kinds
    in a fixed order and issues a fresh op of each, followed by a repeat
    of that kind (an earlier op re-issued verbatim; in the first round the
    one just issued). So every round holds the same template mix and
    exactly ``ANALYST_REPEAT_SHARE`` repeats on every seed; the seed draws
    the parameters and which earlier op a repeat re-issues."""
    rng = np.random.default_rng([seed, 2, client])
    kinds = analyst_kinds(client)
    issued: dict[str, list[dict]] = {k: [] for k in kinds}
    rounds = []
    for _ in range(n_rounds):
        ops: list[dict] = []
        for kind in kinds:
            fresh = analyst_op(kind, rng)
            prior = issued[kind] or [fresh]
            issued[kind].append(fresh)
            ops += [fresh, dict(prior[int(rng.integers(0, len(prior)))], repeat=True)]
        rounds.append(ops)
    return rounds


def analyst_warm_ops(seed: int) -> list[list[dict]]:
    """Per client, one fresh op of each of its kinds for the warm-up;
    none of them is ever issued by a client."""
    rng = np.random.default_rng([seed, 2, ANALYST_CLIENTS])
    return [[analyst_op(k, rng) for k in analyst_kinds(c)] for c in range(ANALYST_CLIENTS)]


# --------------------------------------------------------------------------
# corpus_curation: documents with planted near-dup clusters + embeddings
# --------------------------------------------------------------------------

CORPUS_DOCS = 21_000
CORPUS_EXACT_DUP_SHARE = 0.04
CORPUS_NEAR_DUP_SHARE = 0.08
CORPUS_THRESHOLD = 0.6
EMB_DIM = 64
EMB_QUERIES = 32
EMB_NEIGHBOURS = 5
TOPK = 5


def _vocab(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    syl = np.array(
        [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"], dtype=object
    )
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[rng.integers(0, len(syl), k)]))
    return np.array(sorted(words), dtype=object)


def shingles(text: str, n: int = 3) -> set[str]:
    """Word 3-gram set of a single-spaced text (the operator's definition
    for texts without empty tokens)."""
    w = text.split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def corpus(seed: int) -> dict:
    """Documents (``doc_id``, ``text``), embeddings (``vec_id``,
    ``embedding``) and the generator's truth about both."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    n = CORPUS_DOCS
    n_exact = int(n * CORPUS_EXACT_DUP_SHARE)
    n_near = int(n * CORPUS_NEAR_DUP_SHARE)
    n_base = n - n_exact - n_near
    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 70)))]))
    # near-dup variants: each copies a distinct base doc with 1-3 words
    # substituted, so clusters are pairs (base, variant) of 3-shingle
    # Jaccard well above the 0.6 threshold
    bases = rng.choice(n_base, n_near, replace=False)
    for b in bases:
        w = texts[b].split(" ")
        for pos in rng.choice(len(w), int(rng.integers(1, 4)), replace=False):
            # a different word, so no variant equals its base
            w[pos] = vocab[(np.searchsorted(vocab, w[pos]) + int(rng.integers(1, len(vocab)))) % len(vocab)]
        texts.append(" ".join(w))
    # exact dups: case/whitespace variants of docs outside every cluster
    clustered = set(bases.tolist())
    free = np.array([i for i in range(n_base) if i not in clustered])
    src = rng.choice(free, n_exact, replace=False)
    for s in src:
        texts.append("  " + texts[s].upper().replace(" ", "  ") + " ")
    ids = rng.permutation(n).astype(np.int64) * 3 + 1  # sparse, shuffled
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    # truth: planted near-dup pairs (id_a < id_b) at/above the threshold
    planted = set()
    for j, b in enumerate(bases):
        a, v = int(ids[b]), int(ids[n_base + j])
        if jaccard(shingles(texts[b]), shingles(texts[n_base + j])) >= CORPUS_THRESHOLD:
            planted.add((min(a, v), max(a, v)))
    # exact dedup keeps the lowest id per normalized text
    keep_exact = set(ids[:n_base].tolist()) | set(ids[n_base : n_base + n_near].tolist())
    for k, s in enumerate(src):
        a, c = int(ids[s]), int(ids[n_base + n_near + k])
        if c < a:
            keep_exact.discard(a)
            keep_exact.add(c)
    # embeddings: random unit-ish vectors; each query gets planted
    # neighbours (query + small noise) that are its true top-k
    E = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    qrows = rng.choice(n, EMB_QUERIES * (1 + EMB_NEIGHBOURS), replace=False)
    qidx = qrows[:EMB_QUERIES]
    for qi, q in enumerate(qidx):
        for m in range(EMB_NEIGHBOURS):
            r = qrows[EMB_QUERIES + qi * EMB_NEIGHBOURS + m]
            E[r] = E[q] + 0.15 * rng.standard_normal(EMB_DIM).astype(np.float32)
    vec_ids = np.arange(n, dtype=np.int64)
    emb = pd.DataFrame({"vec_id": vec_ids, "embedding": list(E)})
    planted_nb = {
        int(vec_ids[q]): {
            int(vec_ids[qrows[EMB_QUERIES + qi * EMB_NEIGHBOURS + m]])
            for m in range(EMB_NEIGHBOURS)
        }
        for qi, q in enumerate(qidx)
    }
    return {
        "docs": docs,
        "emb": emb,
        "query_ids": [int(vec_ids[q]) for q in qidx],
        "planted_pairs": planted,
        "planted_neighbours": planted_nb,
        "exact_keep": keep_exact,
        "props": {
            "docs": n,
            "exact_dup_share": CORPUS_EXACT_DUP_SHARE,
            "near_dup_share": CORPUS_NEAR_DUP_SHARE,
            "planted_pairs": len(planted),
            "jaccard_threshold": CORPUS_THRESHOLD,
            "embedding_dim": EMB_DIM,
            "queries": EMB_QUERIES,
            "planted_neighbours_per_query": EMB_NEIGHBOURS,
        },
    }


def exact_topk(emb: pd.DataFrame, query_ids: list[int], k: int) -> dict[int, list[int]]:
    """Exact cosine top-k by numpy, ties by id (the operator's order)."""
    E = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        s = En @ En[pos[q]]
        s[pos[q]] = -np.inf
        order = np.lexsort((ids, -s))[:k]
        out[q] = [int(ids[i]) for i in order]
    return out


# --------------------------------------------------------------------------
# the uploader (event_ingest.py): batches with re-sent duplicates and late events
# --------------------------------------------------------------------------

INGEST_BATCH = 5_000
INGEST_SLICE_S = 600  # event time one batch covers
INGEST_DUP_SHARE = 0.05
INGEST_LATE_SHARE = 0.10
INGEST_LATE_MAX_S = 1800  # inside the 1 h watermark: late, never dropped
INGEST_T0 = int(pd.Timestamp("2024-06-01").timestamp())


def ingest_batches(seed: int):
    """Endless seeded batch stream. Batch ``c`` holds fresh events of the
    slice [T0 + c*600, T0 + (c+1)*600), of which ``INGEST_LATE_SHARE`` are
    stamped up to 30 min before the slice, plus ``INGEST_DUP_SHARE`` rows
    re-sent verbatim from this or the previous batch."""
    rng = np.random.default_rng([seed, 4])
    prev = None
    next_id = 0
    for c in itertools.count():
        n_dup = int(INGEST_BATCH * INGEST_DUP_SHARE)
        n_new = INGEST_BATCH - n_dup
        s0 = INGEST_T0 + c * INGEST_SLICE_S
        t = s0 + rng.integers(0, INGEST_SLICE_S, n_new)
        late = rng.random(n_new) < INGEST_LATE_SHARE
        t = np.where(late, s0 - rng.integers(1, INGEST_LATE_MAX_S, n_new), t)
        fresh = pd.DataFrame(
            {
                "event_id": np.arange(next_id, next_id + n_new, dtype=np.int64),
                "ts": pd.to_datetime(t, unit="s"),
                "user_id": rng.integers(0, 5_000, n_new).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_new)],
                "value": rng.integers(1, 100_000, n_new) / 100.0,
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_new)],
            }
        )
        next_id += n_new
        pool = fresh if prev is None else pd.concat([prev, fresh], ignore_index=True)
        dups = pool.iloc[np.sort(rng.choice(len(pool), n_dup, replace=False))]
        batch = pd.concat([fresh, dups], ignore_index=True)
        batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
        prev = fresh
        yield c, (s0, s0 + INGEST_SLICE_S), batch


def ingest_props() -> dict:
    return {
        "batch_rows": INGEST_BATCH,
        "slice_s": INGEST_SLICE_S,
        "dup_share": INGEST_DUP_SHARE,
        "late_share": INGEST_LATE_SHARE,
        "late_max_s": INGEST_LATE_MAX_S,
    }


def digest(*frames: pd.DataFrame) -> str:
    """SHA-256 over the frames' values and dtypes (byte-identical check)."""
    h = hashlib.sha256()
    for f in frames:
        h.update(str(list(zip(f.columns, map(str, f.dtypes)))).encode())
        h.update(pd.util.hash_pandas_object(f.map(_hashable), index=True).to_numpy().tobytes())
    return h.hexdigest()


def _hashable(v):
    return v.tobytes() if isinstance(v, np.ndarray) else v
