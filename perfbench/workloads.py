"""The four workloads: their call sequences and their output checks.

A workload is a list of :class:`Call`. Each call names the flint_spark
module (the *layer*) whose public function it drives, builds its
result (``build``: construction, including any driver-side collects
the operator makes), runs it to the sink (``run``), and checks it
against an independent numpy or DuckDB computation on the same
generated inputs (``check``, outside the timed passes).

Batch calls run to Spark's ``noop`` sink. Streaming calls replay the
pre-written chunks with ``availableNow`` and ``maxFilesPerTrigger=1``
into the ``noop`` sink (the ``memory`` sink on the check pass).
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pandas as pd

from . import gen

US = gen.US


@dataclass
class Call:
    name: str
    layer: str
    build: Callable  # (ctx) -> DataFrame, a streaming one for stream calls
    check: Callable  # (ctx, built) -> list[str] of mismatches
    stream: bool = False


@dataclass
class Workload:
    name: str
    generate: Callable  # (rng, out_dir) -> dict from gen
    calls: list
    preconditions: Callable | None = None  # (ctx) -> list[str]


class Ctx:
    """Per-run state shared by the calls: the session, the generated
    inputs, and the DataFrames read from them."""

    def __init__(self, spark, data: dict, work: str):
        self.spark = spark
        self.data = data
        self.frames = data["frames"]
        self.work = work
        self.tables = {name: spark.read.parquet(path)
                       for name, path in data["paths"].items()
                       if name != "stream"}
        if "stream" in data["paths"]:
            self.stream_schema = spark.read.parquet(
                data["paths"]["stream"]).schema
        self.stream_runs = 0


def estimated_bytes(df) -> int:
    """Catalyst's plan-statistics size estimate, the figure the
    engine's routing policies compare against their budgets."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# ------------------------------------------------------------ helpers

def _pdf(df, *cols) -> pd.DataFrame:
    """Collect ``cols`` with the time column as int64 microseconds."""
    from pyspark.sql import functions as F
    sel = [F.unix_micros(F.col(c)).alias(c) if c == "time" else F.col(c)
           for c in cols]
    return df.select(*sel).toPandas()


def _close(name, got, want, rtol=1e-9, atol=0.0) -> list[str]:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return [f"{name}: {got.shape[0]} values, expected {want.shape[0]}"]
    gn, wn = np.isnan(got), np.isnan(want)
    if (gn != wn).any():
        return [f"{name}: null pattern differs at {int((gn != wn).sum())} rows"]
    bad = ~np.isclose(got[~gn], want[~wn], rtol=rtol, atol=atol)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{name}: {int(bad.sum())} values differ "
                f"(first {got[~gn][i]!r} vs {want[~wn][i]!r})"]
    return []


def _rows(name, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact row-set equality after sorting on every column."""
    cols = list(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows, expected {len(w)}"]
    if not (g.astype("float64").to_numpy() == w.astype("float64").to_numpy()).all():
        return [f"{name}: row contents differ"]
    return []


def _ewma_loop(t_us: np.ndarray, x: np.ndarray, lam_per_us: float,
               e: float = 0.0, last: int | None = None) -> tuple:
    """Scalar legacy EWMA: E_i = exp(-lam*dt) E_{i-1} + x_i."""
    out = np.empty(len(x))
    for i in range(len(x)):
        d = 0.0 if last is None else math.exp(-lam_per_us * (t_us[i] - last))
        e = d * e + x[i]
        last = int(t_us[i])
        out[i] = e
    return out, e, last


def _lam(alpha: float, period_us: int) -> float:
    return -math.log1p(-alpha) / period_us


def _asof_sql(left: str, right: str, cols: str, tol_us: int, on: str) -> str:
    eq = f"l.{on} = r.{on} AND " if on else ""
    sel = ", ".join(f"CASE WHEN r.time >= l.time - {tol_us} THEN r.{c} END AS {c}"
                    for c in cols.split(","))
    key = f"l.{on}, " if on else ""
    return (f"SELECT {key}l.time, {sel} FROM {left} l ASOF LEFT JOIN {right} r "
            f"ON {eq}l.time >= r.time ORDER BY {key}l.time")


# ---------------------------------------------------------- keyed_ticks

def _keyed_calls() -> list[Call]:
    from flint_spark import clocks, summarizers
    from flint_spark.operators import asof, ema, intervals, regression, windows_ops
    from flint_spark.windows import past_absolute_time

    def fr(ctx, name):
        return ctx.frames[name]

    def check_asof_quotes(ctx, df):
        got = _pdf(df, "id", "time", "bid").sort_values(["id", "time"])
        want = _duck(ctx, _asof_sql("trades", "quotes", "bid", 30 * US, "id"))
        return _close("asof_quotes.bid", got["bid"], want["bid"], rtol=0)

    def check_asof_ref(ctx, df):
        got = _pdf(df, "id", "time", "ref_price").sort_values(["id", "time"])
        want = _duck(ctx, _asof_sql("trades", "ref", "ref_price", 86400 * US, "id"))
        return _close("asof_ref.ref_price", got["ref_price"], want["ref_price"],
                      rtol=0)

    def check_windows(ctx, df):
        got = _pdf(df, "id", "time", "size_sum").sort_values(["id", "time"])
        tr = fr(ctx, "trades").sort_values(["id", "time"])
        want = []
        for _, g in tr.groupby("id", sort=True):
            t = g["time"].to_numpy()
            cs = np.concatenate([[0.0], np.cumsum(g["size"].to_numpy())])
            lo = np.searchsorted(t, t - 5 * 60 * US, side="left")
            want.append(cs[1:] - cs[lo])
        return _close("windows.size_sum", got["size_sum"], np.concatenate(want),
                      rtol=0)

    def check_ewma(ctx, df):
        got = _pdf(df, "id", "time", "price_ewma").sort_values(["id", "time"])
        tr = fr(ctx, "trades").sort_values(["id", "time"])
        lam = _lam(0.05, 60 * US)
        want = [_ewma_loop(g["time"].to_numpy(), g["price"].to_numpy(), lam)[0]
                for _, g in tr.groupby("id", sort=True)]
        return _close("ewma.price_ewma", got["price_ewma"], np.concatenate(want))

    def check_intervals(ctx, df):
        got = _pdf(df, "time", "id", "size_sum")
        want = _duck(ctx, f"""
            SELECT {gen.SESSION_START_US} + (((time - {gen.SESSION_START_US})
                     // {60 * US}) + 1) * {60 * US} AS time,
                   id, sum(size) AS size_sum
            FROM trades GROUP BY ALL""")
        return _rows("intervals", got, want)

    def check_ols(ctx, df):
        got = _pdf(df, "id", "time", "beta").sort_values(["id", "time"])
        tr = fr(ctx, "trades").sort_values(["id", "time"])
        want = []
        for _, g in tr.groupby("id", sort=True):
            t = g["time"].to_numpy()
            x, y = g["signal"].to_numpy(), g["ret"].to_numpy()
            lo = np.searchsorted(t, t - 30 * 60 * US, side="left")
            b = np.full(len(t), np.nan)
            for i in range(len(t)):
                xs, ys = x[lo[i]:i + 1], y[lo[i]:i + 1]
                n = len(xs)
                det = n * (xs @ xs) - xs.sum() ** 2
                if n >= 3 and det > 0:
                    b[i] = (n * (xs @ ys) - xs.sum() * ys.sum()) / det
            want.append(b)
        return _close("rolling_ols.beta", got["beta"], np.concatenate(want),
                      rtol=1e-6, atol=1e-9)

    begin = gen.SESSION_START_US * 1000
    end = (gen.SESSION_START_US + gen.SESSION_US) * 1000
    T = lambda ctx, n: ctx.tables[n]  # noqa: E731
    return [
        Call("asof_quotes", "operators.asof",
             lambda c: asof.left_join(T(c, "trades"), T(c, "quotes"), "30s",
                                      key=["id"]), check_asof_quotes),
        Call("asof_ref", "operators.asof",
             lambda c: asof.left_join(T(c, "trades"), T(c, "ref"), "1d",
                                      key=["id"]), check_asof_ref),
        Call("summarize_windows", "operators.windows_ops",
             lambda c: windows_ops.summarize_windows(
                 T(c, "trades"), past_absolute_time("5m"),
                 summarizers.sum_("size"), key=["id"]), check_windows),
        Call("ewma_keyed", "operators.ema",
             lambda c: ema.ewma(T(c, "trades"), "price", 0.05, "1m",
                                key=["id"]), check_ewma),
        Call("summarize_intervals", "operators.intervals",
             lambda c: intervals.summarize_intervals(
                 T(c, "trades"), clocks.uniform(begin, end, "1m"),
                 summarizers.sum_("size"), key=["id"]), check_intervals),
        Call("rolling_ols", "operators.regression",
             lambda c: regression.rolling_ols(
                 T(c, "trades"), "ret", "signal", past_absolute_time("30m"),
                 key=["id"]), check_ols),
    ]


def _duck(ctx, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, df in ctx.frames.items():
            if isinstance(df, pd.DataFrame):
                con.register(name, df)
        return con.execute(sql).df()
    finally:
        con.close()


def _keyed_preconditions(ctx) -> list[str]:
    from flint_spark.operators.asof import _ASOF_BROADCAST_MAX_BYTES as BCAST
    q = estimated_bytes(ctx.tables["quotes"])
    r = estimated_bytes(ctx.tables["ref"])
    t = estimated_bytes(ctx.tables["trades"])
    out = []
    if q <= BCAST:
        out.append(f"quotes estimate {q} B is within the {BCAST} B broadcast "
                   f"budget: asof_quotes would leave the union route")
    if r > BCAST or t < 8 * r:
        out.append(f"reference estimate {r} B (trades {t} B) does not fit "
                   f"the broadcast route")
    return out


# --------------------------------------------------------- keyless_tape

def _keyless_calls() -> list[Call]:
    from flint_spark.operators import asof, bars, changepoint, ema

    def frame(ctx):
        return ctx.frames["tape"]

    def check_ewma(ctx, df):
        got = _pdf(df, "time", "price_ewma").sort_values("time")
        tp = frame(ctx)
        want, _, _ = _ewma_loop(tp["time"].to_numpy(), tp["price"].to_numpy(),
                                _lam(0.05, 60 * US))
        return _close("ewma.price_ewma", got["price_ewma"], want)

    def check_bars(ctx, df):
        got = _pdf(df, "bar_seq", "open", "high", "low", "close", "n", "volume")
        tp = frame(ctx)
        v = tp["volume"].to_numpy()
        bar = np.floor((np.cumsum(v) - v) / 50_000.0).astype(np.int64)
        want = (pd.DataFrame({"bar_seq": bar, "p": tp["price"], "v": v})
                .groupby("bar_seq")
                .agg(open=("p", "first"), high=("p", "max"), low=("p", "min"),
                     close=("p", "last"), n=("p", "size"), volume=("v", "sum"))
                .reset_index())
        return _rows("volume_bars", got, want)

    def check_cusum(ctx, df):
        got = _pdf(df, "time", "price_cusum_pos", "price_cusum_neg",
                   "price_alarm").sort_values("time")
        x = frame(ctx)["price"].to_numpy()
        z = (x - x.mean()) / x.std(ddof=1)
        pos, neg = np.empty(len(z)), np.empty(len(z))
        sp = sn = 0.0
        for i, zi in enumerate(z):
            sp = max(0.0, sp + zi - 0.5)
            sn = max(0.0, sn - zi - 0.5)
            pos[i], neg[i] = sp, sn
        errs = (_close("cusum.pos", got["price_cusum_pos"], pos, atol=1e-6)
                + _close("cusum.neg", got["price_cusum_neg"], neg, atol=1e-6))
        alarms = int(got["price_alarm"].sum())
        want = int(((pos > 5.0) | (neg > 5.0)).sum())
        if abs(alarms - want) > 0:
            errs.append(f"cusum.alarm: {alarms} alarms, expected {want}")
        return errs

    def check_asof(ctx, df):
        got = _pdf(df, "time", "price").sort_values("time")
        want = _duck(ctx, _asof_sql("signals", "tape", "price",
                                    100_000, ""))
        return _close("asof_keyless.price", got["price"], want["price"], rtol=0)

    return [
        Call("ewma_keyless", "operators.ema",
             lambda c: ema.ewma(_tape(c), "price", 0.05, "1m"), check_ewma),
        Call("volume_bars", "operators.bars",
             lambda c: bars.volume_bars(_tape(c), 50_000.0, "price",
                                        "volume"), check_bars),
        Call("cusum", "operators.changepoint",
             lambda c: changepoint.cusum(_tape(c), "price"), check_cusum),
        Call("asof_keyless", "operators.asof",
             lambda c: asof.left_join(c.tables["signals"], _tape(c), "100ms",
                                      bucket="30m"),
             check_asof),
    ]


def _tape(ctx):
    """The tape as the calls see it: the raw-message column is projected
    away, so it never flows through the operators, but Catalyst sizes
    the scan from the whole file."""
    return ctx.tables["tape"].select("time", "price", "volume")


def _keyless_preconditions(ctx) -> list[str]:
    from flint_spark.operators.ema import _KEYLESS_SINGLE_GROUP_MAX_BYTES as B
    est = estimated_bytes(_tape(ctx))
    if est <= B:
        return [f"tape estimate {est} B is within the {B} B single-task "
                f"budget: the keyless calls would leave the distributed paths"]
    return []


# --------------------------------------------------------- corpus_dedup

PROBES = 16


def _corpus_calls() -> list[Call]:
    from flint_spark.pipeline import dedup, sampling, similarity, text, urls

    def docs(ctx):
        return ctx.frames["docs"]

    def check_gopher(ctx, df):
        got = df.select("doc_id", "gopher_pass").toPandas().sort_values("doc_id")
        want = ctx.frames["klass"] == "good"
        bad = got["gopher_pass"].to_numpy(dtype=bool) != want
        if len(got) != len(want):
            return [f"gopher_rules: {len(got)} rows, expected {len(want)}"]
        return [f"gopher_rules: {int(bad.sum())} docs misclassified"] if bad.any() else []

    def check_urls(ctx, df):
        got = df.select("keep_id", "n_urls").toPandas()
        fam = ctx.frames["url_family"]
        roots, counts = np.unique(fam, return_counts=True)
        want = pd.DataFrame({"keep_id": roots + 1, "n_urls": counts})
        return _rows("url_dedup", got, want)

    def check_dedup(ctx, df):
        got = df.select("doc_id").toPandas()
        fam = ctx.frames["family"]
        keep = np.flatnonzero(fam == np.arange(len(fam))) + 1
        return _rows("dedup_corpus", got, pd.DataFrame({"doc_id": keep}))

    def check_ann(ctx, df):
        """Approximate search: every returned cosine must be exact for
        its pair, each probe's ranks must follow its cosines, and recall
        against the exact top-10 must reach ANN_RECALL."""
        got = df.select("probe_id", "doc_id", "cosine", "rank").toPandas()
        emb = ctx.frames["emb"]
        unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        errs, hits, total = [], 0, 0
        for p in _probe_ids(len(emb)):
            g = got[got["probe_id"] == p].sort_values("rank")
            cos = unit @ unit[p - 1]
            errs += _close(f"ivf_ann.cosine[{p}]", g["cosine"],
                           cos[g["doc_id"].to_numpy() - 1])
            if (np.diff(g["cosine"].to_numpy()) > 0).any():
                errs.append(f"ivf_ann: probe {p} ranks out of cosine order")
            cos[p - 1] = -np.inf
            exact = set(np.lexsort((np.arange(len(cos)), -cos))[:10] + 1)
            hits += len(exact & set(g["doc_id"]))
            total += len(exact)
        if hits < ANN_RECALL * total:
            errs.append(f"ivf_ann: recall@10 {hits}/{total} below {ANN_RECALL}")
        return errs

    def check_dsir(ctx, df):
        got = df.select("doc_id", "logw", "selected").toPandas()
        errs = []
        if int(got["selected"].sum()) != DSIR_K:
            errs.append(f"dsir: {int(got['selected'].sum())} selected, "
                        f"expected {DSIR_K}")
        h = np.array([int(hashlib.md5(f"dsir{i}".encode()).hexdigest()[:7], 16)
                      for i in got["doc_id"]], dtype=np.float64)
        key = got["logw"].to_numpy() - np.log(-np.log((h + 0.5) / 2 ** 28))
        top = np.lexsort((got["doc_id"].to_numpy(), -key))[:DSIR_K]
        want = np.zeros(len(got), dtype=bool)
        want[top] = True
        if (want != got["selected"].to_numpy(dtype=bool)).any():
            errs.append("dsir: selected set differs from the top-k by key")
        topic = ctx.frames["topic"][got["doc_id"].to_numpy() - 1]
        lw = got["logw"].to_numpy()
        if not lw[topic].mean() > lw[~topic].mean():
            errs.append("dsir: target-topic docs do not score above the rest")
        return errs

    def check_pack(ctx, df):
        got = df.select("doc_id", "seq_id", "doc_off", "seq_off",
                        "seg_tokens").toPandas()
        d = docs(ctx).sort_values("doc_id")
        n = d["n_tokens"].to_numpy()
        cb = np.cumsum(n) - n
        rows = []
        for did, c, k in zip(d["doc_id"], cb, n):
            for s in range(c // PACK_LEN, (c + max(k, 1) - 1) // PACK_LEN + 1):
                off = max(0, s * PACK_LEN - c)
                end = min(k, (s + 1) * PACK_LEN - c)
                rows.append((did, s, off, c + off - s * PACK_LEN,
                             end - off if k > 0 else 0))
        want = pd.DataFrame(rows, columns=["doc_id", "seq_id", "doc_off",
                                           "seq_off", "seg_tokens"])
        return _rows("pack_sequences", got, want)

    def ann(ctx):
        d = ctx.tables["docs"]
        cents = similarity.ivf_train(d, k=8, iters=3, id_col="doc_id",
                                     vec_col="embedding", quantize=6)
        return similarity.ivf_ann_topk_trained(
            d, cents, _probe_ids(len(ctx.frames["emb"])), k=10, nprobe=3,
            id_col="doc_id", vec_col="embedding")

    T = lambda ctx, n: ctx.tables[n]  # noqa: E731
    return [
        Call("gopher_rules", "pipeline.text",
             lambda c: text.gopher_rules(T(c, "docs")), check_gopher),
        Call("url_dedup", "pipeline.urls",
             lambda c: urls.url_dedup(T(c, "docs")), check_urls),
        Call("dedup_minhash", "pipeline.dedup",
             lambda c: dedup.dedup_corpus(T(c, "docs"), "minhash"), check_dedup),
        Call("ivf_ann", "pipeline.similarity", ann, check_ann),
        Call("dsir_select", "pipeline.sampling",
             lambda c: sampling.dsir_select(T(c, "docs"), T(c, "target"), DSIR_K),
             check_dsir),
        # distributed=True: the corpus is below the prefix engine's auto
        # budget; the explicit route keeps the engine in this workload
        Call("pack_sequences", "pipeline.sampling",
             lambda c: sampling.pack_sequences(T(c, "docs"), PACK_LEN,
                                               "n_tokens", distributed=True),
             check_pack),
    ]


DSIR_K = 120
ANN_RECALL = 0.9
PACK_LEN = 512


def _probe_ids(n: int) -> list[int]:
    return [1 + (i * 7919) % n for i in range(PROBES)]


# --------------------------------------------------------- stream_churn

WATERMARK_US = 2 * 60 * US


def _stream_calls() -> list[Call]:
    from flint_spark import summarizers
    from flint_spark.streaming import ts_stream

    def source(ctx):
        return (ctx.spark.readStream.schema(ctx.stream_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(ctx.data["paths"]["stream"]))

    def check_ewma(ctx, df):
        pdf = _pdf(df, "key", "__tns", "value_ewma")
        lam = _lam(0.05, 60 * US)
        state: dict = {}
        want = []
        for ch in ctx.frames["chunks"]:
            for k, g in ch.sort_values(["key", "time"]).groupby("key", sort=True):
                e, last = state.get(k, (0.0, None))
                out, e, last = _ewma_loop(g["time"].to_numpy(),
                                          g["value"].to_numpy(), lam, e, last)
                state[k] = (e, last)
                want.append(pd.DataFrame({"key": k, "__tns": g["time"] * 1000,
                                          "value_ewma": out}))
        want = pd.concat(want).sort_values(["key", "__tns"])
        got = pdf.sort_values(["key", "__tns"])
        if len(got) != len(want):
            return [f"ewma_stream: {len(got)} rows, expected {len(want)}"]
        if (got["__tns"].to_numpy() != want["__tns"].to_numpy()).any():
            return ["ewma_stream: row keys differ"]
        return _close("ewma_stream.value_ewma", got["value_ewma"],
                      want["value_ewma"])

    def check_intervals(ctx, df):
        pdf = _pdf(df, "time", "key", "value_sum")
        rows, wm = [], None
        for ch in ctx.frames["chunks"]:
            keep = ch if wm is None else ch[ch["time"] >= wm]
            rows.append(keep)
            t_max = ch["time"].max()
            wm = t_max - WATERMARK_US if wm is None else max(wm, t_max - WATERMARK_US)
        live = pd.concat(rows)
        live = live.assign(time=(live["time"] // (60 * US)) * (60 * US))
        want = live.groupby(["time", "key"], as_index=False)["value"].sum()
        want = want.rename(columns={"value": "value_sum"})
        got = pdf
        if got.empty:
            return ["summarize_intervals_stream: no window was emitted"]
        # append mode emits a window once the watermark passes its end;
        # every emitted window must be complete and exact
        emitted = want.merge(got[["time", "key"]].drop_duplicates(),
                             on=["time", "key"])
        closed = want[want["time"] + 60 * US <= wm - 60 * US]
        errs = []
        if len(got) < len(closed):
            errs.append(f"summarize_intervals_stream: {len(got)} windows "
                        f"emitted, at least {len(closed)} closed")
        got = got.merge(emitted, on=["time", "key"], suffixes=("", "_want"))
        errs += _close("summarize_intervals_stream.value_sum",
                       got["value_sum"], got["value_sum_want"], rtol=1e-12)
        return errs

    return [
        Call("ewma_stream", "streaming.ts_stream",
             lambda c: ts_stream.ewma_stream(source(c), "value", key=["key"],
                                             alpha=0.05,
                                             duration_per_period="1m"),
             check_ewma, stream=True),
        Call("summarize_intervals_stream", "streaming.ts_stream",
             lambda c: ts_stream.summarize_intervals_stream(
                 source(c), "1 minute", summarizers.sum_("value"),
                 key=["key"], watermark="2 minutes"),
             check_intervals, stream=True),
    ]


def run_stream(ctx, name: str, df, sink: str):
    """Replay every chunk through ``df`` into ``sink``, one file per
    trigger, and wait for the end. Returns the finished query."""
    ctx.stream_runs += 1
    ckpt = os.path.join(ctx.work, "ckpt", f"{name}-{ctx.stream_runs}")
    w = (df.writeStream.outputMode("append").format(sink)
         .option("checkpointLocation", ckpt).trigger(availableNow=True))
    if sink == "memory":
        w = w.queryName(f"{name}_{ctx.stream_runs}")
    q = w.start()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q


# ------------------------------------------------------------ registry

NAMES = ("keyed_ticks", "keyless_tape", "corpus_dedup", "stream_churn")


def get(name: str) -> Workload:
    """The workload called ``name``; why each exists is in README.md."""
    if name == "keyed_ticks":
        return Workload(name, gen.keyed_ticks, _keyed_calls(),
                        _keyed_preconditions)
    if name == "keyless_tape":
        return Workload(name, gen.keyless_tape, _keyless_calls(),
                        _keyless_preconditions)
    if name == "corpus_dedup":
        return Workload(name, gen.corpus, _corpus_calls())
    if name == "stream_churn":
        return Workload(name, gen.stream_chunks, _stream_calls())
    raise KeyError(name)
