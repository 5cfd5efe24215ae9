"""The closed-loop workloads.

Each workload generates its inputs and exact oracles in ``setup`` (run
several times; the last run's state is kept) and yields, per iteration, a
fixed list of calls.  A call runs one library operation to completion
(collect / write) and returns its output; ``check`` turns that output into
failure messages, outside the timed region.

Why these four: ``pages_build`` is the paper's query mix over one scan and
carries scan, Arrow transfer, hashing and ingest, with a tiny merge;
``sketch_rollup`` hashes no raw row, so blob parsing, folding, estimating
and the blob shuffle carry it; ``incremental_ingest`` is the write side
(partials, manifests, state store); ``near_dup`` is the only user of the
``sketchlib.dedup`` layer.  A hash-kernel change should move the first and
leave the second flat, and a merge change the reverse.

BENCHMARK.json lists the first two.  A run of either of the last two takes
45-70 s on a 4-vCPU VM, too long to repeat as often as the listed ones;
every traced run executes them once at probe size (``layers.Probes``),
output checks included, and ``--workload`` runs them in full.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from statistics import median
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

import inputs
from common import tail
from sketchlib.dedup.minhash import near_dup_pairs
from sketchlib.spark.aggregate import (HllSpec, build_partials, distinct_count,
                                       estimate_col, rolling_merge,
                                       rollup_sketches, sketch_agg)
from sketchlib.spark.cacheutil import unpersist_intermediates
from sketchlib.spark.checkpoint import SketchCheckpoint
from sketchlib.spark.heavy_hitters import heavy_hitters
from sketchlib.spark.membership import bloom_build_bytes, probe_might_contain
from sketchlib.spark.quantiles import approx_quantiles
from sketchlib.spark.specs import KllSpec
from sketchlib.streaming.stream_agg import streaming_distinct_count

P = 14
# 6 sigma of the reference's published HLL standard error 1.04/sqrt(m),
# the bound the repo's oracle gates use (the reference harness allows 10).
HLL_BOUND = 6 * 1.04 / (1 << P) ** 0.5
# KLL k=200 normalized rank error is ~1% w.h.p.; the repo's gates allow 0.05
KLL_RANK_BOUND = 0.05
KLL_PROBS = [0.1, 0.5, 0.9, 0.99]
JACCARD_THRESHOLD = 0.7
# planted pairs have Jaccard >= 0.8, where 32 bands of 4 rows miss a pair
# with probability (1 - 0.8^4)^32 < 1e-7
RECALL_FLOOR = 0.99


@dataclass
class Call:
    name: str
    layer: str                   # the library module the call enters
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]
    docs: int                    # input rows the call consumes
    builds_rows: bool = True     # hashes raw rows (False: only merges blobs)


@dataclass
class Ctx:
    spark: Any
    work_dir: str
    seed: int


def hll_blobs(pdf, keys: list[str]) -> dict[tuple, bytes]:
    """Blobs built directly from the rows by the sketch core, one per group
    (bit-identical to the Spark build: canonical serialization)."""
    spec = HllSpec(p=P)
    hashes = spec.prepare(pdf, ["url"])
    codes = pdf.groupby(keys, sort=False).ngroup().to_numpy()
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(codes.max() + 2))
    firsts = pdf[keys].to_numpy()[order[bounds[:-1]]]
    out = {}
    for g, key in enumerate(firsts):
        sk = spec.make()
        spec.ingest(sk, hashes[order[bounds[g]:bounds[g + 1]]])
        out[tuple(key.tolist())] = spec.to_bytes(sk)
    return out


def rel_err(est: float, exact: float) -> float:
    return abs(est - exact) / exact


def durations(records, *names) -> list[float]:
    return [r["s"] for r in records if not names or r["name"] in names]


def kind_medians(records) -> dict[str, tuple[float, float]]:
    """Per call kind (name): (median seconds, median docs).  The kinds of
    one workload differ in cost, so a median pooled over them jumps between
    kinds from run to run; a median per kind does not."""
    by_kind: dict[str, list[dict]] = {}
    for r in records:
        by_kind.setdefault(r["name"], []).append(r)
    return {k: (median(r["s"] for r in rs), median(r["docs"] for r in rs))
            for k, rs in by_kind.items()}


def call_s_p50(records) -> float:
    """Each call kind's median seconds, averaged over the kinds."""
    kinds = kind_medians(records).values()
    return sum(s for s, _ in kinds) / len(kinds)


def docs_per_s(records) -> float:
    """Docs per second of one iteration of median-time calls: the docs of
    one call of each kind over the sum of the kinds' median seconds."""
    kinds = kind_medians(records).values()
    return sum(d for _, d in kinds) / sum(s for s, _ in kinds)


class Workload:
    name = ""
    quality: dict[str, float]

    def setup(self, ctx: Ctx) -> dict[str, float]:
        """Generate inputs and oracles; returns setup facts to print."""
        raise NotImplementedError

    def iteration(self) -> list[Call]:
        raise NotImplementedError

    def named(self, records) -> list[tuple[str, float, str]]:
        """The workload's own end-to-end metrics under their own names:
        (name, value, unit)."""
        raise NotImplementedError

    def blob_table(self):
        """(blob frame, group columns) whose merge is this workload's merge
        stage, for the traced run's ``aggregate.*`` probes."""
        return build_partials(self.df, "url", ["lang", "day"]), ["lang", "day"]

    def job_groups(self) -> list[str]:
        """Job groups the library sets itself for the loop's calls (the
        streaming engine runs each query's jobs under its run id)."""
        return []

    def _track(self, key: str, value: float) -> None:
        self.quality[key] = max(self.quality.get(key, 0.0), value)


class PagesBuild(Workload):
    name = "pages_build"
    N_ROWS = 60_000

    def setup(self, ctx: Ctx) -> dict[str, float]:
        self.ctx, self.quality = ctx, {}
        pdf, gen_s = inputs.pages_frame(self.N_ROWS, ctx.seed)
        path = inputs.write_partitioned(pdf, f"{ctx.work_dir}/pages")
        self.df = inputs.read_pages(ctx.spark, path)
        self.pdf = pdf
        self.exact_dc = pdf.groupby(["lang", "day"]).url.nunique().to_dict()
        self.exact_lang_host = len(pdf[["lang", "host"]].drop_duplicates())
        self.host_counts = pdf.host.value_counts().to_dict()
        self.tlen = {lang: np.sort(g.to_numpy())
                     for lang, g in pdf.groupby("lang").tlen}
        self.last_day = pdf.day.max()
        self.earlier_urls = set(pdf.url[pdf.day < self.last_day])
        last_urls = set(pdf.url[pdf.day == self.last_day])
        self.last_absent = len(last_urls - self.earlier_urls)
        return {"pages.gen_rows_per_s": self.N_ROWS / gen_s,
                "pages.scan_partitions": self.df.rdd.getNumPartitions()}

    def iteration(self) -> list[Call]:
        df, n = self.df, self.N_ROWS
        agg = "sketchlib.spark.aggregate"
        return [
            Call("distinct_count_url_by_lang_day", agg,
                 lambda: distinct_count(df, "url", ["lang", "day"], p=P).collect(),
                 self._check_dc, n),
            Call("distinct_lang_host", agg,
                 lambda: distinct_count(df, ["lang", "host"], p=P).collect(),
                 self._check_lang_host, n),
            Call("heavy_hitters_host", "sketchlib.spark.heavy_hitters",
                 lambda: heavy_hitters(df, "host", k=20).collect(),
                 self._check_hh, n),
            Call("kll_quantiles_tlen_by_lang", "sketchlib.spark.quantiles",
                 lambda: approx_quantiles(df, "tlen", KLL_PROBS, ["lang"],
                                          KllSpec()).collect(),
                 self._check_kll, n),
            Call("bloom_probe_last_day", "sketchlib.spark.membership",
                 self._bloom, self._check_bloom, n),
        ]

    def named(self, records):
        return [("build_docs_per_s", docs_per_s(records), "docs/s")]

    def _check_dc(self, rows) -> list[str]:
        bad = []
        if len(rows) != len(self.exact_dc):
            bad.append(f"{len(rows)} groups, expected {len(self.exact_dc)}")
        for r in rows:
            e = rel_err(r["estimate"], self.exact_dc[(r["lang"], r["day"])])
            self._track("hll_rel_err_max", e)
            if e > HLL_BOUND:
                bad.append(f"HLL ({r['lang']}, {r['day']}) rel err {e:.4f}")
        return bad

    def _check_lang_host(self, rows) -> list[str]:
        e = rel_err(rows[0]["estimate"], self.exact_lang_host)
        self._track("hll_rel_err_max", e)
        return [f"HLL (lang, host) rel err {e:.4f}"] if e > HLL_BOUND else []

    def _check_hh(self, rows) -> list[str]:
        if not rows:
            return ["heavy_hitters returned nothing"]
        return [f"CMS sandwich broken for {r['value']}: {r['lower_bound']} <= "
                f"{self.host_counts.get(r['value'], 0)} <= {r['est_count']}"
                for r in rows
                if not r["lower_bound"] <= self.host_counts.get(r["value"], 0)
                <= r["est_count"]]

    def _check_kll(self, rows) -> list[str]:
        bad = []
        for r in rows:
            data = self.tlen[r["lang"]]
            for q, est in zip(KLL_PROBS, r["quantiles"]):
                lo = np.searchsorted(data, est, side="left") / len(data)
                hi = np.searchsorted(data, est, side="right") / len(data)
                err = max(0.0, lo - q, q - hi)
                self._track("kll_rank_err_max", err)
                if err > KLL_RANK_BOUND:
                    bad.append(f"KLL {r['lang']} q={q} rank err {err:.4f}")
        return bad

    def _bloom(self):
        df = self.df
        blob = bloom_build_bytes(df.filter(F.col("day") < self.last_day), "url")
        last = df.filter(F.col("day") == self.last_day).select("url")
        flag = probe_might_contain(last, "url", blob)
        return last.select("url", flag.alias("m")).filter(~F.col("m")).collect()

    def _check_bloom(self, absent_rows) -> list[str]:
        fneg = [r["url"] for r in absent_rows if r["url"] in self.earlier_urls]
        absent = {r["url"] for r in absent_rows}
        self._track("bloom_fpr", 1 - len(absent) / max(self.last_absent, 1))
        return [f"Bloom false negatives: {fneg[:3]}"] if fneg else []


class SketchRollup(Workload):
    name = "sketch_rollup"
    N_ROWS = 50_000
    ROLL_WINDOW = 7

    def setup(self, ctx: Ctx) -> dict[str, float]:
        self.ctx, self.quality = ctx, {}
        pdf, gen_s = inputs.pages_frame(self.N_ROWS, ctx.seed)
        path = inputs.write_partitioned(pdf, f"{ctx.work_dir}/pages")
        self.df = inputs.read_pages(ctx.spark, path)
        self.pdf = pdf
        self.keys = ["lang", "host", "dayn", "hour"]
        self.table = sketch_agg(self.df, "url", self.keys,
                                HllSpec(p=P)).cache()
        self.n_blobs = self.table.count()
        self.ref = {k: hll_blobs(pdf, [k]) for k in ("dayn", "host", "lang")}
        # trailing-window rows, kept only at anchors present for the lang
        contrib = pdf[["lang", "url", "dayn"]].loc[
            pdf.index.repeat(self.ROLL_WINDOW)].reset_index(drop=True)
        contrib["dayn"] += np.tile(np.arange(self.ROLL_WINDOW), len(pdf))
        anchors = pdf[["lang", "dayn"]].drop_duplicates()
        contrib = contrib.merge(anchors, on=["lang", "dayn"])
        self.ref_roll = hll_blobs(contrib, ["lang", "dayn"])
        self.exact = (pdf.groupby(self.keys).url.nunique()
                      .rename("exact").reset_index())
        return {"pages.gen_rows_per_s": self.N_ROWS / gen_s,
                "pages.scan_partitions": self.df.rdd.getNumPartitions(),
                "rollup.sketch_rows": self.n_blobs}

    def blob_table(self):
        return self.table, ["dayn"]

    def named(self, records):
        q = durations(records)
        out = [("rollup_query_s_p50", median(q), "s"),
               ("rollup_queries", len(q), "count")]
        pct, val = tail(q)
        if pct is not None:
            out.append((f"rollup_query_s_tail_p{pct:.0f}", val, "s"))
        return out

    def iteration(self) -> list[Call]:
        t, n = self.table, self.n_blobs
        agg = "sketchlib.spark.aggregate"

        def rollup(key):
            return Call(f"rollup_to_{key}", agg,
                        lambda: rollup_sketches(t, [key]).collect(),
                        lambda rows: self._check_blobs(rows, [key],
                                                       self.ref[key]),
                        n, builds_rows=False)

        def rolling():
            daily = rollup_sketches(t, ["lang", "dayn"])
            return rolling_merge(daily, "dayn", self.ROLL_WINDOW,
                                 group_cols=["lang"]).collect()

        return [
            rollup("dayn"), rollup("host"), rollup("lang"),
            Call("rolling_merge_7d", agg, rolling,
                 lambda rows: self._check_blobs(rows, ["lang", "dayn"],
                                                self.ref_roll),
                 n, builds_rows=False),
            Call("estimate_col", agg,
                 lambda: t.select(*self.keys,
                                  estimate_col().alias("estimate")).toPandas(),
                 self._check_estimates, n, builds_rows=False),
        ]

    def _check_blobs(self, rows, keys, ref) -> list[str]:
        got = {tuple(r[k] for k in keys): bytes(r["sketch"]) for r in rows}
        if got == ref:
            return []
        diff = [k for k in ref.keys() | got.keys() if got.get(k) != ref.get(k)]
        return [f"{len(diff)} {'/'.join(keys)} blobs differ from the direct "
                f"build, e.g. {diff[:3]}"]

    def _check_estimates(self, pdf) -> list[str]:
        m = pdf.merge(self.exact, on=self.keys, how="outer")
        if m.estimate.isna().any() or m.exact.isna().any():
            return ["estimate_col groups differ from the exact groups"]
        err = ((m.estimate - m.exact).abs() / m.exact).max()
        self._track("hll_rel_err_max", float(err))
        return [f"estimate_col rel err {err:.4f}"] if err > HLL_BOUND else []


class IncrementalIngest(Workload):
    """One iteration is one episode over fresh directories: the day files
    arrive one at a time; each arrival is committed as a checkpoint unit
    and fed to the streaming query as one availableNow trigger; then
    ``result()`` runs, the last unit's commit is dropped as if the process
    died after writing its partials, and a new checkpoint object resumes."""

    name = "incremental_ingest"
    N_ROWS = 60_000
    N_DAYS = 4

    def setup(self, ctx: Ctx) -> dict[str, float]:
        self.ctx, self.quality = ctx, {}
        pdf, gen_s = inputs.pages_frame(self.N_ROWS, ctx.seed, n_days=self.N_DAYS)
        self.pdf = pdf
        self.days = sorted(pdf.day.unique())
        self.rows = pdf.day.value_counts().to_dict()
        self.staged = {d: inputs.write_file(pdf[pdf.day == d],
                                            f"{ctx.work_dir}/staged/{d}.parquet")
                       for d in self.days}
        raw = ctx.spark.read.parquet(*self.staged.values())
        self.schema = raw.schema
        self.df = inputs.with_derived(raw)
        spec = HllSpec(p=P)
        self.expected = {}  # day -> {lang: batch estimate over days <= day}
        for i, d in enumerate(self.days):
            prefix = pdf[pdf.day.isin(self.days[:i + 1])]
            self.expected[d] = {k[0]: spec.estimate(spec.from_bytes(b))
                                for k, b in hll_blobs(prefix, ["lang"]).items()}
        self.batch_blobs = hll_blobs(pdf, ["lang"])
        self.exact = pdf.groupby("lang").url.nunique().to_dict()
        self.episode = 0
        self.stream_runs: list[str] = []
        self.progress: list[dict] = []  # StreamingQuery.recentProgress entries
        return {"pages.gen_rows_per_s": self.N_ROWS / gen_s,
                "pages.scan_partitions": self.df.rdd.getNumPartitions()}

    def blob_table(self):
        return build_partials(self.df, "url", ["lang"]), ["lang"]

    def job_groups(self) -> list[str]:
        return self.stream_runs

    def named(self, records):
        return [("ckpt_unit_s_p50", median(durations(records, "checkpoint_unit")), "s"),
                ("stream_batch_s_p50", median(durations(records, "stream_trigger")), "s"),
                ("resume_s", median(durations(records, "checkpoint_resume")), "s"),
                ("ingest_docs_per_s", docs_per_s(records), "docs/s")]

    def iteration(self) -> list[Call]:
        spark = self.ctx.spark
        ep = f"{self.ctx.work_dir}/episode{self.episode}"
        self.episode += 1
        landing = f"{ep}/landing"
        os.makedirs(landing)
        for d, path in self.staged.items():
            shutil.copy(path, f"{ep}/{d}.parquet")
        ck = self.checkpoint = SketchCheckpoint(f"{ep}/ckpt", HllSpec(p=P),
                                                "url", ["lang"])
        latest: dict[str, int] = {}

        def source(day):
            return spark.read.parquet(f"{landing}/{day}.parquet")

        def unit(day):
            def run():
                os.replace(f"{ep}/{day}.parquet", f"{landing}/{day}.parquet")
                return ck.run_unit(source(day), day)
            return run

        def sink(batch, _batch_id):
            for r in batch.collect():
                latest[r["lang"]] = r["estimate"]

        def trigger():
            stream = spark.readStream.schema(self.schema).parquet(landing)
            q = (streaming_distinct_count(stream, "url", ["lang"], p=P)
                 .writeStream.outputMode("update").foreachBatch(sink)
                 .option("checkpointLocation", f"{ep}/stream")
                 .trigger(availableNow=True).start())
            self.stream_runs.append(str(q.runId))
            q.awaitTermination()
            self.progress.extend(p for p in q.recentProgress if p["numInputRows"])
            return dict(latest)

        def check_stream(day):
            def check(est) -> list[str]:
                want = self.expected[day]
                return [] if est == want else [
                    f"stream estimates after {day} differ from batch: "
                    f"{sorted(set(est.items()) ^ set(want.items()))[:3]}"]
            return check

        def result():
            return ck.result(spark).collect()

        def resume():
            # the kill: the last unit's partials are on disk, its manifest
            # line is not
            with open(ck.manifest_path) as f:
                lines = f.readlines()
            with open(ck.manifest_path, "w") as f:
                f.writelines(lines[:-1])
            again = SketchCheckpoint(f"{ep}/ckpt", HllSpec(p=P), "url", ["lang"])
            rec = again.run(spark, source, self.days)
            if rec["ran"] != 1:
                raise RuntimeError(f"resume re-ran {rec['ran']} units, expected 1")
            return again.result(spark).collect()

        calls = []
        for d in self.days:
            calls.append(Call("checkpoint_unit", "sketchlib.spark.checkpoint",
                              unit(d), self._check_record(d), self.rows[d]))
            calls.append(Call("stream_trigger", "sketchlib.streaming",
                              trigger, check_stream(d), self.rows[d]))
        calls.append(Call("checkpoint_result", "sketchlib.spark.checkpoint",
                          result, self._check_result, 0, builds_rows=False))
        calls.append(Call("checkpoint_resume", "sketchlib.spark.checkpoint",
                          resume, self._check_result, self.rows[self.days[-1]]))
        return calls

    def _check_record(self, day):
        def check(rec) -> list[str]:
            return ([] if rec["n_input_rows"] == self.rows[day] else
                    [f"unit {day} counted {rec['n_input_rows']} rows, "
                     f"expected {self.rows[day]}"])
        return check

    def _check_result(self, rows) -> list[str]:
        got = {(r["lang"],): bytes(r["sketch"]) for r in rows}
        spec = HllSpec(p=P)
        for (lang,), b in got.items():
            self._track("hll_rel_err_max",
                        rel_err(spec.estimate(spec.from_bytes(b)), self.exact[lang]))
        return [] if got == self.batch_blobs else [
            "checkpoint result differs from the uninterrupted batch build"]


class NearDup(Workload):
    name = "near_dup"
    N_DOCS = 6_000

    def setup(self, ctx: Ctx) -> dict[str, float]:
        self.ctx, self.quality = ctx, {}
        corpus, self.planted, gen_s = inputs.near_dup_corpus(self.N_DOCS, ctx.seed)
        self.pdf = corpus
        self.n_docs = len(corpus)
        path = inputs.write_file(corpus, f"{ctx.work_dir}/corpus.parquet",
                                 cols=inputs.RAW_COLS + ["doc_id"])
        self.df = inputs.with_derived(ctx.spark.read.parquet(path))
        self.texts = dict(zip(corpus.doc_id.tolist(), corpus.text.tolist()))
        return {"pages.gen_rows_per_s": self.N_DOCS / gen_s,
                "pages.scan_partitions": self.df.rdd.getNumPartitions(),
                "near_dup.planted_pairs": len(self.planted)}

    def named(self, records):
        return [("near_dup_docs_per_s", docs_per_s(records), "docs/s")]

    def iteration(self) -> list[Call]:
        return [Call("near_dup_pairs_oph", "sketchlib.dedup.minhash",
                     self._pairs, self._check, self.n_docs)]

    def _pairs(self):
        out = near_dup_pairs(self.df, "text", "doc_id",
                             threshold=JACCARD_THRESHOLD, method="oph")
        rows = out.collect()
        unpersist_intermediates(out)
        return rows

    def _check(self, rows) -> list[str]:
        bad = []
        found = set()
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            found.add((a, b))
            j = inputs.jaccard(self.texts[a], self.texts[b])
            if j < JACCARD_THRESHOLD or abs(j - r["jaccard"]) > 1e-9:
                bad.append(f"pair ({a}, {b}) reported {r['jaccard']:.4f}, exact {j:.4f}")
        recall = len(found & self.planted.keys()) / len(self.planted)
        self.quality["near_dup_recall"] = recall
        self.pairs_found = len(rows)
        if recall < RECALL_FLOOR:
            bad.append(f"near_dup recall {recall:.4f} < {RECALL_FLOOR}")
        return bad


def run_calls(w: Workload, seconds: float, tracer, sc=None) -> list[dict]:
    """Whole iterations of the workload's calls until ``seconds`` have
    passed (at least one).  With ``sc``, every call's jobs carry the group
    ``loop:<i>:<call>``.  Each record: call name, seconds, docs, failures
    and the job groups the library set for it."""
    records = []
    deadline = time.perf_counter() + seconds
    it = 0
    while True:
        for call in w.iteration():
            if sc is not None:
                sc.setJobGroup(f"loop:{it}:{call.name}",
                               f"perfbench {w.name} {call.name} #{it}")
            rec = {"name": call.name, "docs": call.docs,
                   "builds_rows": call.builds_rows}
            groups_before = len(w.job_groups())
            t0 = time.perf_counter()
            try:
                with tracer.span(call.name, call.layer):
                    out = call.run()
                rec["s"] = time.perf_counter() - t0
                rec["failures"] = call.check(out)
            except Exception as e:  # a failed call is counted, not fatal
                rec["s"] = time.perf_counter() - t0
                rec["failures"] = [f"{type(e).__name__}: {e}"]
                traceback.print_exc(file=sys.stderr)
            rec["groups"] = w.job_groups()[groups_before:]
            for f in rec["failures"]:
                print(f"CHECK FAILED {w.name} {call.name}: {f}", file=sys.stderr)
            records.append(rec)
        it += 1
        if time.perf_counter() >= deadline:
            return records


WORKLOADS = {w.name: w for w in (PagesBuild, SketchRollup, IncrementalIngest,
                                 NearDup)}
