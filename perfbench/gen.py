"""Seeded input generation and engine-independent expectations.

Every input the engine sees is written here, in the benchmark process, from
the workload seed: the sequences table for the ingest pipeline, timestamped
multi-line text logs, and JSON-lines records. Each generator also returns the
expected result of every operation the benchmark will run, computed from the
generated data with plain Python/pandas, never by the engine.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pandas as pd

from clp_spark.sources.synth import build_vocab, generate_sequences

# 2026-01-01T00:00:00Z; every generated timestamp is at or after it
T0_MS = 1_767_225_600_000
LEVELS = ("INFO", "WARN", "ERROR")
LEVEL_P = (0.80, 0.15, 0.05)


def _vocab_text() -> np.ndarray:
    return build_vocab()["text"].to_numpy(dtype=object)


# The message corpus: a fixed draw from the synthetic log generator, so the
# templates (and with them the compression ratio) are the same for every
# seed; the workload seed picks which messages occur, in what order, and
# everything around them (levels, timestamps, files, query literals).
CORPUS_SEED = 42
CORPUS_ROWS = 24_000


def _corpus() -> list[str]:
    vocab = _vocab_text()
    seq = generate_sequences(CORPUS_ROWS, CORPUS_SEED)
    return ["".join(vocab[np.asarray(t, dtype=np.int64)]) for t in seq["tokens"]]


def _messages(n: int, seed: int, printable: bool) -> list[str]:
    """``n`` messages drawn by ``seed`` from the corpus. Line breaks become
    spaces, so one generated line is one physical line; ``printable`` also
    drops the placeholder and control bytes."""
    corpus = _corpus()
    pick = np.random.default_rng([seed, 1]).integers(len(corpus), size=n)
    out = []
    for i in pick:
        m = corpus[i].replace("\r", " ").replace("\n", " ")
        if printable:
            m = "".join(c if " " <= c <= "~" else " " for c in m)
        out.append(m)
    return out


def wildcard_count(messages: list[str], needles: tuple[str, ...]) -> int:
    """Matches of the query ``*n1*n2*...*`` (ordered substrings)."""
    hits = 0
    for m in messages:
        pos = 0
        for nd in needles:
            pos = m.find(nd, pos)
            if pos < 0:
                break
            pos += len(nd)
        else:
            hits += 1
    return hits


def _rare_piece(messages: list[str], rng: np.random.Generator) -> str:
    """A dictionary-variable-shaped piece (letters and digits) that occurs in
    between 1 and 1% of the messages: the 'selective' query literal."""
    counts: dict[str, int] = {}
    for m in messages:
        for w in set(m.split(" ")):
            if (
                len(w) >= 5
                and w.isascii()
                and any(c.isdigit() for c in w)
                and any(c.isalpha() for c in w)
                and all(c.isalnum() or c in "._" for c in w)
            ):
                counts[w] = counts.get(w, 0) + 1
    limit = max(1, len(messages) // 100)
    cands = sorted(w for w, c in counts.items() if c <= limit)
    if not cands:
        cands = sorted(counts, key=lambda w: (counts[w], w))[:1]
    return cands[int(rng.integers(len(cands)))]


# ---------------------------------------------------------------- sequences


def write_sequences(out_dir: str, n_rows: int, seed: int, n_parts: int = 4) -> dict:
    """(doc_id, tokens, n_tok, source) parquet parts plus the vocab table;
    returns the paths and the per-source row counts."""
    os.makedirs(os.path.join(out_dir, "sequences"), exist_ok=True)
    df = generate_sequences(n_rows, seed)
    per = (n_rows + n_parts - 1) // n_parts
    for i in range(n_parts):
        df.iloc[i * per : (i + 1) * per].to_parquet(
            os.path.join(out_dir, "sequences", f"part-{i:04d}.parquet"),
            index=False, row_group_size=10_000,
        )
    vocab_path = os.path.join(out_dir, "vocab.parquet")
    build_vocab().to_parquet(vocab_path, index=False)
    return {
        "seq_path": os.path.join(out_dir, "sequences"),
        "vocab_path": vocab_path,
        "rows": n_rows,
        "per_source": {str(k): int(v) for k, v in df["source"].value_counts().items()},
    }


def _text_queries(rare: str, window: tuple[int, int]) -> list[dict]:
    qs = [
        # a dictionary-variable shape that no message holds
        {"name": "miss", "needles": ("container_q9zz_424242",)},
        {"name": "selective", "needles": (rare,)},
        # one common letter: no logtype or variable can be excluded, so
        # every row is decoded and verified
        {"name": "broad", "needles": ("e",)},
        {"name": "time_window", "needles": ("ERROR",), "window": window},
    ]
    for q in qs:
        q["query"] = "*" + "*".join(q["needles"]) + "*"
    return qs


# ---------------------------------------------------------------- text logs


def _fmt_ts(ms: int) -> str:
    t = _dt.datetime.fromtimestamp(ms / 1000, tz=_dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S") + f",{ms % 1000:03d}"


def write_text_logs(out_dir: str, n_lines: int, seed: int, n_files: int) -> dict:
    """Rotated application logs: ``n_files`` files, each covering its own
    time slice (file k is older than file k+1), lines
    ``{ts} {level} {body}`` with about 10% timestamp-less continuation lines
    (FIXTURES.md §3).

    Returns each file's path and bytes, the number of assembled messages,
    the raw byte total and the query mix with its expected match counts."""
    rng = np.random.default_rng(seed)
    log_dir = os.path.join(out_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)
    bodies = _messages(n_lines, seed, printable=False)
    cont = rng.random(n_lines) < 0.10
    levels = rng.choice(len(LEVELS), size=n_lines, p=LEVEL_P)
    gaps = rng.integers(1, 2000, size=n_lines)
    per_file = n_lines // n_files
    slice_ms = int(per_file * 2000)
    files, raw_messages, msg_ts = [], [], []
    total_bytes = 0
    for k in range(n_files):
        lo, hi = k * per_file, (k + 1) * per_file if k < n_files - 1 else n_lines
        ts = T0_MS + k * slice_ms
        lines: list[str] = []
        cur: list[str] | None = None
        for i in range(lo, hi):
            if cont[i] and cur is not None:
                line = "    at " + bodies[i]
                cur.append(line)
            else:
                ts += int(gaps[i])
                line = f"{_fmt_ts(ts)} {LEVELS[levels[i]]} {bodies[i]}"
                if cur is not None:
                    raw_messages.append("\n".join(cur))
                cur = [line]
                msg_ts.append(ts)
            lines.append(line)
        raw_messages.append("\n".join(cur))
        path = os.path.join(log_dir, f"app.log.{k:02d}")
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        # newest file last modified latest (the compressor orders by mtime)
        mtime = (T0_MS + (k + 1) * slice_ms) / 1000
        os.utime(path, (mtime, mtime))
        files.append({"path": path, "bytes": data})
        total_bytes += len(data)
    assert len(raw_messages) == len(msg_ts)
    rare = _rare_piece(raw_messages, np.random.default_rng(seed + 1))
    # a window inside one file's time slice: most archives lie outside it
    k = int(rng.integers(n_files))
    w_lo = T0_MS + k * slice_ms + slice_ms // 4
    window = (w_lo, w_lo + slice_ms // 2)
    queries = _text_queries(rare, window)
    for q in queries:
        if "window" in q:
            lo_ms, hi_ms = q["window"]
            sel = [m for m, t in zip(raw_messages, msg_ts) if lo_ms <= t <= hi_ms]
            q["expected"] = wildcard_count(sel, q["needles"])
        else:
            q["expected"] = wildcard_count(raw_messages, q["needles"])
    return {
        "files": files,
        "messages": len(raw_messages),
        "input_bytes": total_bytes,
        "queries": queries,
    }


# ---------------------------------------------------------------- json logs

SERVICES = tuple(f"svc-{c}" for c in "abcdefgh")


def write_json_logs(out_dir: str, n_records: int, seed: int) -> dict:
    """JSON-lines records in three schemas (flat, nested ``http`` object,
    string array) with an epoch-ms ``ts`` field that increases through the
    file. Returns the path, the exact file bytes and the KQL mix with its
    expected counts from pandas filters over the records."""
    rng = np.random.default_rng(seed)
    msgs = _messages(n_records, seed, printable=True)
    levels = rng.choice(len(LEVELS), size=n_records, p=LEVEL_P)
    svc = rng.choice(len(SERVICES), size=n_records)
    kinds = rng.choice(3, size=n_records, p=(0.6, 0.3, 0.1))
    codes = rng.integers(100, 600, size=n_records)
    ts = T0_MS + np.cumsum(rng.integers(1, 500, size=n_records))
    lines = []
    for i in range(n_records):
        rec = {
            "ts": int(ts[i]),
            "level": LEVELS[levels[i]],
            "service": SERVICES[svc[i]],
            "msg": msgs[i],
        }
        if kinds[i] == 0:
            rec["code"] = int(codes[i])
        elif kinds[i] == 1:
            rec["http"] = {"status": int(codes[i]), "path": f"/api/v{i % 3}/items"}
        else:
            rec["tags"] = [SERVICES[(svc[i] + 1) % len(SERVICES)], "batch"]
        lines.append(json.dumps(rec, separators=(",", ":")))
    data = ("\n".join(lines) + "\n").encode()
    path = os.path.join(out_dir, "records.jsonl")
    os.makedirs(out_dir, exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    frame = pd.DataFrame(
        {
            "ts": ts.astype(np.int64),
            "level": [LEVELS[x] for x in levels],
            "service": [SERVICES[x] for x in svc],
            "msg": msgs,
        }
    )
    rare = _rare_piece(msgs, np.random.default_rng(seed + 1))
    span = int(ts[-1] - ts[0])
    w_lo = int(ts[0] + span * float(rng.uniform(0.1, 0.8)))
    w_hi = w_lo + span // 16
    queries = [
        {"name": "miss", "query": 'service: "svc-none"',
         "expected": int((frame["service"] == "svc-none").sum())},
        {"name": "selective", "query": f'msg: "*{rare}*"',
         "expected": int(frame["msg"].str.contains(rare, regex=False).sum())},
        {"name": "broad", "query": 'msg: "*e*"',
         "expected": int(frame["msg"].str.contains("e", regex=False).sum())},
        {"name": "time_window",
         "query": f"(level: ERROR) AND ts >= {w_lo} AND ts <= {w_hi}",
         "tge": w_lo, "tle": w_hi,
         "expected": int(
             ((frame["level"] == "ERROR") & (frame["ts"] >= w_lo)
              & (frame["ts"] <= w_hi)).sum()
         )},
    ]
    return {
        "path": path,
        "bytes": data,
        "records": n_records,
        "input_bytes": len(data),
        "queries": queries,
    }
