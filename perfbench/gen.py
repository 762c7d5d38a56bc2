"""Seeded input generators owned by the benchmark.

Every input the engine sees comes from here, and every generator is a pure
function of its seed, so the same ``--seed`` gives the same inputs and the
output checks can recompute the ground truth without asking the engine.

- ``log_transport``: a ``logapi`` transport (the connector's ``transport``
  option) that serves one day of log rows per day of the requested window,
  with exact duplicates and PII-shaped tokens.
- ``zipf_documents``: a Zipf-vocabulary corpus with planted near-duplicates,
  exact copies and low-quality junk documents.
- ``dashboard_logs`` / ``history_rows``: the log table behind the NRQL
  queries and the day-partitioned history table behind the dashboard.
"""

from __future__ import annotations

import json
import re
import urllib.parse

import numpy as np
import pandas as pd

DAY_MS = 86_400_000
T0_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z

LEVELS = np.array(["error", "error", "warn", "info"])
SERVICES = np.array([f"svc-{n}" for n in
                     ("api", "auth", "billing", "db", "ingest", "search",
                      "web", "worker")])
NAMESPACES = np.array(["prod", "staging", "batch", "edge"])
TEMPLATES = [
    "db timeout after {a} ms for user {email}",
    "payment declined for card {card} order {a}",
    "auth failed api_key={key} from {ip}",
    "session token={key} expired for {email}",
    "OOM killed worker {a} on node n{b}",
    "disk full on /var/data{b} at {a} percent",
    "conn reset by peer {ip} after {a} ms",
    "slow query {a} ms on shard {b}",
]
#: patterns that must never survive redaction into a stored history entry
PII_PATTERNS = [
    re.compile(r"[\w.-]+@[\w.-]+"),
    re.compile(r"\d{4} \d{4} \d{4} \d{4}"),
    re.compile(r"(?i)api_key=(?!\[REDACTED\])\w"),
    re.compile(r"(?i)token=(?!\[REDACTED\])\w"),
]


def log_url(seed: int, rows: int, dup_pct: float, calls_path: str,
            gate_path: str) -> str:
    """The ``url`` option that configures ``log_transport`` (the transport
    signature has no other channel for settings)."""
    q = urllib.parse.urlencode({"seed": seed, "rows": rows,
                                "dup_pct": dup_pct, "calls": calls_path,
                                "gate": gate_path})
    return f"perfbench://logs?{q}"


def day_logs(seed: int, day: int, rows: int, dup_pct: float) -> pd.DataFrame:
    """All log rows of one day: ``rows`` distinct events at distinct
    timestamps, then ``dup_pct`` % of them repeated exactly (same timestamp
    and message) and the whole day shuffled into arrival order."""
    rng = np.random.default_rng([seed, day])
    ts = T0_MS + day * DAY_MS + np.sort(
        rng.choice(DAY_MS, size=rows, replace=False))
    tpl = rng.integers(0, len(TEMPLATES), rows)
    a = rng.integers(1, 100_000, rows)
    b = rng.integers(0, 64, rows)
    user = rng.integers(0, 5_000, rows)
    card = rng.integers(10**15, 10**16, rows)
    key = rng.integers(0, 2**40, rows)
    ip = rng.integers(0, 2**32, rows)
    msgs = []
    for i in range(rows):
        c = f"{card[i]:016d}"
        msgs.append(TEMPLATES[tpl[i]].format(
            a=a[i], b=b[i], email=f"user{user[i]}@corp{b[i] % 7}.example.com",
            card=f"{c[:4]} {c[4:8]} {c[8:12]} {c[12:]}",
            key=f"k{key[i]:x}",
            ip=".".join(str((ip[i] >> s) & 255) for s in (24, 16, 8, 0))))
    df = pd.DataFrame({
        "timestamp": ts,
        "level": LEVELS[rng.integers(0, len(LEVELS), rows)],
        "container_name": SERVICES[rng.integers(0, len(SERVICES), rows)],
        "message": msgs,
        "event": "log",
        "namespace_name": NAMESPACES[rng.integers(0, len(NAMESPACES), rows)],
    })
    n_dup = int(rows * dup_pct / 100.0)
    dups = df.iloc[np.sort(rng.choice(rows, size=n_dup, replace=False))]
    out = pd.concat([df, dups], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def window_logs(seed: int, lo: int, hi: int, rows: int,
                dup_pct: float) -> pd.DataFrame:
    """Rows with ``lo <= timestamp < hi``: the union of the days the
    window touches, so any split of a window regenerates the same rows."""
    first = (lo - T0_MS) // DAY_MS
    last = (hi - 1 - T0_MS) // DAY_MS
    parts = [day_logs(seed, d, rows, dup_pct) for d in range(first, last + 1)]
    df = pd.concat(parts, ignore_index=True)
    return df[(df.timestamp >= lo) & (df.timestamp < hi)]


def gate_ms(path: str) -> int | None:
    """The time from which ``log_transport`` serves no rows, if set."""
    try:
        with open(path) as f:
            return int(f.read())
    except (OSError, ValueError):
        return None


def log_transport(url: str, api_key: str, payload: dict) -> dict:
    """``logapi`` transport serving ``window_logs`` for the request's
    ``SINCE``/``UNTIL`` window. Rows at or after the time in the ``gate``
    file are never served, which lets the benchmark end a stream on an
    empty window. Each call appends ``lo hi rows`` to the ``calls`` file,
    so the benchmark can count fetches per window."""
    q = dict(urllib.parse.parse_qsl(urllib.parse.urlparse(url).query))
    nrql = json.loads(re.search(r"nrql\(query: (\".*\")\) ",
                                payload["query"]).group(1))
    lo, hi = map(int, re.search(r"SINCE (\d+) UNTIL (\d+)", nrql).groups())
    gate = gate_ms(q["gate"])
    if gate is not None:
        hi = min(hi, gate)
    results = []
    if hi > lo:
        results = window_logs(int(q["seed"]), lo, hi, int(q["rows"]),
                              float(q["dup_pct"])).to_dict("records")
    with open(q["calls"], "a") as f:
        f.write(f"{lo} {hi} {len(results)}\n")
    if "count(*)" in nrql:
        results = [{"count": len(results)}]
    return {"data": {"actor": {"account": {"nrql": {"results": results}}}}}


def prior_incidents(seed: int, n: int) -> pd.DataFrame:
    """The prior-incident index source: ``n`` past incident summaries."""
    rng = np.random.default_rng([seed, 1])
    tpl = rng.integers(0, len(TEMPLATES), n)
    msgs = [TEMPLATES[t].format(a=int(rng.integers(1, 100_000)),
                                b=int(rng.integers(0, 64)),
                                email="[REDACTED_EMAIL]",
                                card="[REDACTED_CARD]", key="[REDACTED]",
                                ip="10.0.0.1")
            for t in tpl]
    return pd.DataFrame({"hist_id": np.arange(n, dtype=np.int64),
                         "message": msgs})


def zipf_documents(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A documents corpus and its ground truth.

    Tokens follow Zipf(1.07) over a 50,000-word vocabulary shifted by 100
    ranks (content words after stopword removal); documents are 40 to 160
    tokens. After the first quarter, 8 % of documents are near-duplicates
    (a copy of one earlier document with 2 % of positions resampled), 2 %
    are exact copies and 5 % are junk (symbol runs) that a quality filter
    must drop. Copies are only taken from non-junk documents.

    Returns ``(docs, truth)``: ``docs`` has ``doc_id, text``; ``truth`` has
    ``doc_id, kind`` (background / near / exact / junk) and ``src``, the
    copied document (-1 if none).
    """
    rng = np.random.default_rng([seed, 2])
    vocab_n = 50_000
    p = (np.arange(1, vocab_n + 1, dtype=np.float64) + 100.0) ** -1.07
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0  # a draw above a cdf ending one ulp short of 1 overflows
    vocab = np.array([f"w{i}" for i in range(vocab_n)])
    lens = rng.integers(40, 161, n)
    offs = np.concatenate([[0], np.cumsum(lens)])
    flat = np.searchsorted(cdf, rng.random(offs[-1])).astype(np.int32)
    toks = [flat[offs[i]:offs[i + 1]] for i in range(n)]
    kind = np.full(n, "background", dtype=object)
    src = np.full(n, -1, dtype=np.int64)
    u = rng.random(n)
    for i in range(n // 4, n):
        if u[i] < 0.15:
            j = int(rng.integers(0, i))
            while kind[j] == "junk":
                j = int(rng.integers(0, i))
            if u[i] < 0.08:
                base = toks[j].copy()
                m = rng.random(len(base)) < 0.02
                base[m] = np.searchsorted(cdf, rng.random(int(m.sum())))
                toks[i], kind[i] = base, "near"
            elif u[i] < 0.10:
                toks[i], kind[i] = toks[j], "exact"
            else:
                kind[i] = "junk"
            src[i] = j if kind[i] != "junk" else -1
    junk = np.array(["#%&", "@@!", "$$$*", "^~^", "+=+"])
    texts = [" ".join(junk[t % len(junk)]) if kind[i] == "junk"
             else " ".join(vocab[t]) for i, t in enumerate(toks)]
    ids = np.arange(n, dtype=np.int64)
    return (pd.DataFrame({"doc_id": ids, "text": texts}),
            pd.DataFrame({"doc_id": ids, "kind": kind, "src": src}))


SEARCH_WORDS = ["timeout", "declined", "expired", "OOM", "disk", "reset"]


def dashboard_logs(seed: int, n: int, days: int) -> pd.DataFrame:
    """The log table behind the NRQL queries: ``n`` rows spread over
    ``days`` days with a log-normal ``duration_ms``."""
    rng = np.random.default_rng([seed, 4])
    ts = T0_MS * 1000 + rng.integers(0, days * DAY_MS * 1000, n)
    words = np.array(SEARCH_WORDS + ["ok", "retry"])
    msg = (pd.Series(words[rng.integers(0, len(words), n)])
           + " after " + pd.Series(rng.integers(1, 10_000, n)).astype(str)
           + " ms")
    return pd.DataFrame({
        "ts": ts,  # epoch micros; written as timestamp[us, UTC]
        "level": LEVELS[rng.integers(0, len(LEVELS), n)],
        "container_name": SERVICES[rng.integers(0, len(SERVICES), n)],
        "namespace_name": NAMESPACES[rng.integers(0, len(NAMESPACES), n)],
        "message": msg.to_numpy(),
        "duration_ms": np.round(rng.lognormal(4.0, 1.0, n), 3),
    })


def history_rows(seed: int, n: int, days: int) -> list[tuple]:
    """Rows of the incident history table, in the column order of
    ``HISTORY_SCHEMA``: one entry per distinct second over ``days`` days."""
    rng = np.random.default_rng([seed, 5])
    secs = np.sort(rng.choice(days * 86_400, size=n, replace=False))
    rows = []
    for i, s in enumerate(secs):
        ts = pd.Timestamp((T0_MS // 1000 + int(s)) * 10**9)
        iso = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        svc = str(SERVICES[rng.integers(0, len(SERVICES))])
        level = str(LEVELS[rng.integers(0, len(LEVELS))])
        ns = str(NAMESPACES[rng.integers(0, len(NAMESPACES))])
        logs = [(iso, level, svc, f"{w} after {int(rng.integers(1, 999))} ms",
                 "log", ns)
                for w in rng.choice(SEARCH_WORDS, 3)]
        rows.append((iso, svc, ns, level, logs, [(int(i), [0.0, 1.0])],
                     f"RCA {i}", None))
    return rows


HISTORY_SCHEMA = (
    "timestamp string, container_name string, namespace_name string, "
    "level string, batch_logs array<struct<timestamp:string, level:string, "
    "container_name:string, message:string, event:string, "
    "namespace_name:string>>, similar_logs array<struct<hist_id:bigint, "
    "embedding:array<float>>>, llm_output string, "
    "feedback struct<vote:string, comment:string>")
