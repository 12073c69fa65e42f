"""Seeded input generators for the four benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns pandas
frames (kept in memory for the output checks) plus the parquet paths it
wrote. The program under test only ever sees the parquet files. The
same seed gives byte-identical inputs.
"""

from __future__ import annotations

import binascii
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000  # microseconds per second
SESSION_START_US = 1_709_299_800 * US  # 2024-03-01 13:30:00 UTC
SESSION_US = int(6.5 * 3600 * US)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us", tz="UTC"))


def _write(path: str, cols: dict) -> None:
    arrays = {k: (_ts(v) if k == "time" else v) for k, v in cols.items()}
    pq.write_table(pa.table(arrays), path)


def _unique_times(rng, n: int, start: int, span: int) -> np.ndarray:
    """``n`` distinct sorted microsecond stamps in [start, start+span)."""
    t = np.unique(rng.integers(0, span, size=int(n * 1.05) + 16))
    t = np.sort(rng.choice(t, size=n, replace=False))
    return start + t


def _keyed_times(rng, ids: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` (id, time) rows, unique per (id, time), sorted by time."""
    idx = rng.integers(0, len(ids), size=n)
    t = rng.integers(0, SESSION_US, size=n)
    comb = np.unique(idx.astype(np.int64) * SESSION_US + t)
    idx, t = comb // SESSION_US, comb % SESSION_US
    order = np.argsort(t, kind="stable")
    return ids[idx[order]], SESSION_START_US + t[order]


# ---------------------------------------------------------------- keyed

def keyed_ticks(rng, out_dir: str, n_ids=300, n_quotes=170_000,
                n_trades=40_000) -> dict:
    """Quotes with three book levels, trades and a 3-rows-per-id
    reference table over one 6.5 h session. Times are unique per
    (id, time), so every as-of match and every per-key scan order is
    fully determined."""
    ids = np.arange(1, n_ids + 1, dtype=np.int32)
    base = 20 + 180 * rng.random(n_ids)
    qid, qt = _keyed_times(rng, ids, n_quotes)
    bid = base[qid - 1] + rng.normal(0, 0.5, len(qid))
    quotes = pd.DataFrame({
        "time": qt, "id": qid, "bid": bid,
        "ask": bid + rng.uniform(0.01, 0.2, len(qid)),
        "bid_size": rng.integers(1, 50, len(qid)) * 100.0,
        "ask_size": rng.integers(1, 50, len(qid)) * 100.0,
        **{f"{side}{lvl}": bid + sign * rng.uniform(0.01, 0.5, len(qid)) * lvl
           for lvl in (2, 3) for side, sign in (("bid", -1), ("ask", 1))},
        "micro": bid + rng.uniform(0, 0.2, len(qid)),
        "imbalance": rng.uniform(-1, 1, len(qid))})
    tid, tt = _keyed_times(rng, ids, n_trades)
    signal = rng.normal(0, 1, len(tid))
    trades = pd.DataFrame({
        "time": tt, "id": tid,
        "price": base[tid - 1] + rng.normal(0, 0.5, len(tid)),
        "size": rng.integers(1, 20, len(tid)) * 100.0,
        "signal": signal,
        "ret": 0.5 * signal + rng.normal(0, 1, len(tid))})
    offs = np.array([-3600, 2 * 3600, 4 * 3600], dtype=np.int64) * US
    ref = pd.DataFrame({
        "time": np.tile(SESSION_START_US + offs, n_ids),
        "id": np.repeat(ids, 3),
        "ref_price": np.repeat(base, 3) + rng.normal(0, 1, 3 * n_ids),
        "sector": rng.integers(0, 12, 3 * n_ids).astype(np.int32)})
    paths = {}
    for name, df in (("quotes", quotes), ("trades", trades), ("ref", ref)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(paths[name], {c: df[c].to_numpy() for c in df.columns})
    return {"frames": {"quotes": quotes, "trades": trades, "ref": ref},
            "paths": paths, "rows": len(quotes) + len(trades) + len(ref)}


# -------------------------------------------------------------- keyless

def keyless_tape(rng, out_dir: str, n_rows=30_000, msg_len=4000,
                 n_signals=20_000) -> dict:
    """One consolidated tape with a raw-message column wide enough that
    Catalyst's size estimate of the (time, price, volume) projection
    exceeds 64 MB, plus a sparse keyless signal series to as-of join
    against it. Catalyst sizes a projection as the file size scaled by
    the type-default row widths (a string counts 20 bytes), so the file
    must be well above 64 MB."""
    t = _unique_times(rng, n_rows, SESSION_START_US, SESSION_US)
    price = 100 + np.cumsum(rng.normal(0, 0.02, n_rows))
    # integer-valued volumes: volume-bar boundaries are then exact on
    # every route (see operators.bars.volume_bars)
    volume = rng.integers(1, 500, n_rows).astype(np.float64)
    hexed = binascii.hexlify(rng.bytes(n_rows * msg_len // 2))
    offsets = np.arange(0, n_rows + 1, dtype=np.int32) * msg_len
    raw = pa.Array.from_buffers(pa.string(), n_rows,
                                [None, pa.py_buffer(offsets.tobytes()),
                                 pa.py_buffer(hexed)])
    tape_path = os.path.join(out_dir, "tape.parquet")
    pq.write_table(pa.table({"time": _ts(t), "price": price,
                             "volume": volume, "raw_msg": raw}), tape_path)
    st = _unique_times(rng, n_signals, SESSION_START_US, SESSION_US)
    signals = pd.DataFrame({"time": st, "sig": rng.normal(0, 1, n_signals)})
    sig_path = os.path.join(out_dir, "signals.parquet")
    _write(sig_path, {c: signals[c].to_numpy() for c in signals.columns})
    tape = pd.DataFrame({"time": t, "price": price, "volume": volume})
    return {"frames": {"tape": tape, "signals": signals},
            "paths": {"tape": tape_path, "signals": sig_path},
            "rows": n_rows + n_signals}


# --------------------------------------------------------------- corpus

_STOP = ["the", "and", "that", "have", "with", "of", "to", "be"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, n: int) -> np.ndarray:
    words = set(_STOP)
    out = list(_STOP)
    while len(out) < n:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(4, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def _zipf_p(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def _lines(words: list[str], per_line: int = 12) -> str:
    return "\n".join(" ".join(words[i:i + per_line])
                     for i in range(0, len(words), per_line))


def corpus(rng, out_dir: str, n_docs=1200, dup_rate=0.05, near_rate=0.05,
           url_dup_rate=0.10, dim=16, n_clusters=4,
           n_target=150) -> dict:
    """Web corpus with planted structure whose expected outputs follow
    from construction: quality classes (good / short / bullet /
    duplicate-line), exact and one-word near-duplicate copies, URL
    variants of earlier URLs, clustered embeddings, and a target
    corpus drawn from a shifted vocabulary for data selection."""
    vocab = _vocab(rng, 4000)
    p_raw = _zipf_p(len(vocab), 1.1)
    perm = np.concatenate([np.arange(len(_STOP)),
                           len(_STOP) + rng.permutation(len(vocab) - len(_STOP))])
    p_tgt = p_raw[np.argsort(perm)]  # same Zipf law over a shuffled rank order

    def draw(n, p):
        return list(vocab[rng.choice(len(vocab), size=n, p=p)])

    n_copies = int(n_docs * dup_rate) + int(n_docs * near_rate)
    n_orig = n_docs - n_copies
    texts, klass, topic = [], [], []
    for _ in range(n_orig):
        u = rng.random()
        tgt = rng.random() < 0.2
        p = p_tgt if tgt else p_raw
        if u < 0.70:
            texts.append(_lines(draw(int(rng.integers(80, 200)), p)))
            klass.append("good")
        elif u < 0.80:
            texts.append(_lines(draw(int(rng.integers(10, 40)), p)))
            klass.append("short")
        elif u < 0.90:
            body = draw(int(rng.integers(80, 160)), p)
            texts.append("\n".join("- " + " ".join(body[i:i + 10])
                                   for i in range(0, len(body), 10)))
            klass.append("bullet")
        else:
            line = " ".join(draw(12, p))
            texts.append("\n".join([line] * int(rng.integers(7, 14))))
            klass.append("dupline")
        topic.append(tgt)
    family = list(range(n_orig))  # family = doc index of its original
    good = [i for i in range(n_orig) if klass[i] == "good"]
    srcs = rng.choice(good, size=n_copies, replace=False)
    for j, s in enumerate(srcs):
        t = texts[s]
        if j >= int(n_docs * dup_rate):  # near-duplicate: one word swapped
            ws = t.split(" ")
            k = int(rng.integers(1, len(ws) - 1))
            ws[k] = "zz" + ws[k]
            t = " ".join(ws)
        texts.append(t)
        klass.append(klass[s])
        topic.append(topic[s])
        family.append(int(s))
    doc_id = np.arange(1, n_docs + 1, dtype=np.int64)

    # urls: a base url per doc; url_dup_rate of docs reuse an earlier
    # doc's url in a variant that canonicalizes back to it
    base = [f"https://site{int(rng.integers(0, 400))}.example.com/a/"
            f"{i}/page?id={int(rng.integers(0, 10**6))}" for i in range(n_docs)]
    url_family = list(range(n_docs))
    urls = list(base)
    variants = [
        lambda u: u.replace("https://site", "HTTPS://SITE", 1),
        lambda u: u.replace(".example.com/", ".example.com:443/", 1),
        lambda u: u + "#section-2",
        lambda u: u + "&utm_source=feed",
        lambda u: u.replace("/page?", "/page/?", 1),
    ]
    for i in range(1, n_docs):
        if rng.random() < url_dup_rate:
            src = int(rng.integers(0, i))
            src = url_family[src]
            url_family[i] = src
            urls[i] = variants[int(rng.integers(0, len(variants)))](base[src])

    centers = rng.normal(0, 1, (n_clusters, dim))
    cl = rng.integers(0, n_clusters, n_docs)
    emb = centers[cl] + rng.normal(0, 0.05, (n_docs, dim))

    n_tokens = np.array([len(t.split()) for t in texts], dtype=np.int64)
    docs = pd.DataFrame({"doc_id": doc_id, "url": urls, "text": texts,
                         "n_tokens": n_tokens})
    docs_path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(pa.table({
        "doc_id": doc_id, "url": urls, "text": texts, "n_tokens": n_tokens,
        "embedding": pa.array(list(emb), type=pa.list_(pa.float64()))}),
        docs_path)
    tgt_texts = [_lines(draw(int(rng.integers(80, 200)), p_tgt))
                 for _ in range(n_target)]
    target_path = os.path.join(out_dir, "target.parquet")
    pq.write_table(pa.table({
        "doc_id": np.arange(1, n_target + 1, dtype=np.int64),
        "text": tgt_texts}), target_path)
    return {"frames": {"docs": docs, "emb": emb,
                       "klass": np.array(klass), "topic": np.array(topic),
                       "family": np.array(family),
                       "url_family": np.array(url_family)},
            "paths": {"docs": docs_path, "target": target_path},
            "rows": n_docs + n_target}


# --------------------------------------------------------------- stream

def stream_chunks(rng, out_dir: str, n_chunks=6, rows=1500, live=600,
                  churn=300, late_rate=0.02) -> dict:
    """``n_chunks`` parquet files, one per trigger, each spanning the
    next minute of event time. Chunk ``c`` draws keys from the sliding
    range [c*churn, c*churn+live), so keys churn and the per-key state
    grows by ``churn`` keys a chunk. A ``late_rate`` share of each
    chunk's rows is 30 minutes old, behind any watermark."""
    src = os.path.join(out_dir, "stream")
    os.makedirs(src, exist_ok=True)
    chunks = []
    for c in range(n_chunks):
        key = (c * churn + rng.integers(0, live, rows)).astype(np.int64)
        t0 = SESSION_START_US + c * 60 * US
        t = t0 + rng.integers(0, 60 * US, rows)
        late = rng.random(rows) < late_rate
        t = np.where(late, t - 30 * 60 * US, t)
        # unique (key, time) so each key's fold order is fully determined
        comb, first = np.unique(key * (1 << 40) + (t - SESSION_START_US
                                                    + 3600 * US),
                                return_index=True)
        key, t, late = key[first], t[first], late[first]
        df = pd.DataFrame({"time": t, "key": key,
                           "value": rng.normal(0, 1, len(key)),
                           "late": late})
        path = os.path.join(src, f"chunk_{c:03d}.parquet")
        _write(path, {"time": df["time"].to_numpy(),
                      "key": df["key"].to_numpy(),
                      "value": df["value"].to_numpy()})
        os.utime(path, (1_700_000_000 + c, 1_700_000_000 + c))
        chunks.append(df)
    return {"frames": {"chunks": chunks}, "paths": {"stream": src},
            "rows": sum(len(c) for c in chunks)}
