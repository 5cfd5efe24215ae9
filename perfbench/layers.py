"""Per-layer measurements of the traced run.

Every probe runs under a job group ``probe:<name>`` and inside spans, so
each layer is measured in every traced run: the kernels, the scan/Arrow/
build ladder and the merge on the workload's own rows; the checkpoint,
streaming and MinHash layers by one episode of the ``incremental_ingest``
and one call of the ``near_dup`` workload at probe size, with their output
checks.  The loop's own calls are measured by the Spark status store (see
``common.StatusStore``) and by spans.

Which end-to-end metric each layer metric should move, and where it
should stay flat, is stated in ``PREDICTIONS``.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from workloads import Ctx, IncrementalIngest, NearDup, durations, run_calls
from sketchlib.bloom import BloomFilter
from sketchlib.cms import CountMinSketch
from sketchlib.dedup.minhash import lsh_candidate_pairs, minhash_signatures
from sketchlib.encoding import encode_string_series
from sketchlib.hashing import fnv1a_64_flat, murmur3_64_flat
from sketchlib.hll import HllSketch, fold_blobs
from sketchlib.kll import KllSketch
from sketchlib.spark.aggregate import (HllSpec, build_partials, distinct_count,
                                       merge_partials)
from sketchlib.xxh3 import xxh128_net_flat

P = 14
# BASELINE.md: the reference's single-thread Add(string) rates, b=4, .NET 7
REF_ADDS_PER_S = {"murmur3": 4.66e6, "fnv1a": 9.41e6, "xxh3": 12.8e6}

PREDICTIONS = {
    "pages.*": "setup_s on every workload",
    "hash.*": "docs_per_s on pages_build; flat on sketch_rollup",
    "hll.add_hashes/cms/kll/bloom": "docs_per_s on pages_build; flat on sketch_rollup",
    "hll.fold_blobs/from_bytes/estimate": "call_s_p50 on sketch_rollup; flat on pages_build",
    "spark.scan_s/arrow_s, aggregate.build_s": "docs_per_s on pages_build",
    "aggregate.merge_s, spark.shuffle_write_bytes": "call_s_p50 on sketch_rollup; merge flat on pages_build",
    "checkpoint.*": "ckpt_unit_s_p50, resume_s of the incremental_ingest probe; "
                    "flat on pages_build and sketch_rollup",
    "stream.*": "stream_batch_s_p50 of the incremental_ingest probe; "
                "flat on pages_build and sketch_rollup",
    "minhash.*": "near_dup_docs_per_s of the near_dup probe; "
                 "flat on pages_build and sketch_rollup",
    "proc.*": "peak_rss_mb",
}


def _rate(fn, n_items: int, min_s: float = 0.05, rounds: int = 3) -> float:
    """Median items/s over ``rounds`` rounds of at least ``min_s`` each."""
    rates = []
    for _ in range(rounds):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(reps * n_items / dt)
    return median(rates)


def kernel_rates(pdf) -> dict[str, float]:
    """Single-thread kernel rates on the workload's own urls (keys) and
    text lengths (values), with the ratio of each hash to the reference's
    Add(string) rate: ours / reference."""
    flat, offsets = encode_string_series(pdf["url"])
    n = len(offsets) - 1
    out = {
        "hash.murmur3_keys_per_s": _rate(lambda: murmur3_64_flat(flat, offsets), n),
        "hash.fnv1a_keys_per_s": _rate(lambda: fnv1a_64_flat(flat, offsets), n),
        "hash.xxh3_keys_per_s": _rate(lambda: xxh128_net_flat(flat, offsets), n),
    }
    for h in ("murmur3", "fnv1a", "xxh3"):
        out[f"hash.{h}_ref_ratio"] = out[f"hash.{h}_keys_per_s"] / REF_ADDS_PER_S[h]
    hashes = murmur3_64_flat(flat, offsets)
    out["hll.add_hashes_keys_per_s"] = _rate(
        lambda: HllSketch(p=P).add_hashes(hashes), n)
    # hash + add end to end against the reference's Murmur3 Add(string)
    per_key = 1 / out["hash.murmur3_keys_per_s"] + 1 / out["hll.add_hashes_keys_per_s"]
    out["hll.hash_add_ref_ratio"] = (1 / per_key) / REF_ADDS_PER_S["murmur3"]

    # one sketch per host: the blob mix (direct, sparse, dense) of the data
    codes = pdf.groupby("host", sort=False).ngroup().to_numpy()
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(codes.max() + 2))
    sketches = []
    for g in range(len(bounds) - 1):
        sk = HllSketch(p=P)
        sk.add_hashes(hashes[order[bounds[g]:bounds[g + 1]]])
        sketches.append(sk)
    blobs = [sk.to_bytes() for sk in sketches]
    nb = len(blobs)
    out["hll.to_bytes_per_s"] = _rate(lambda: [s.to_bytes() for s in sketches], nb)
    out["hll.from_bytes_per_s"] = _rate(
        lambda: [HllSketch.from_bytes(b) for b in blobs], nb)
    out["hll.fold_blobs_per_s"] = _rate(lambda: fold_blobs(blobs), nb)
    out["hll.estimate_per_s"] = _rate(
        lambda: [HllSketch.from_bytes(b).count() for b in blobs], nb)
    out["cms.add_hashes_keys_per_s"] = _rate(
        lambda: CountMinSketch().add_hashes(hashes), n)
    values = pdf["tlen"].to_numpy(dtype=np.float64)
    out["kll.add_values_per_s"] = _rate(
        lambda: KllSketch(k=200).add_values(values), len(values))
    out["bloom.add_keys_per_s"] = _rate(lambda: BloomFilter().add_hashes(hashes), n)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 1) -> float:
    """Best of ``reps`` runs, in seconds."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


class Probes:
    """Runs each probe under its own job group and span."""

    # the write-side and dedup workloads, run once each at these sizes
    INGEST_ROWS = 20_000
    NEAR_DUP_DOCS = 1_500

    def __init__(self, spark, tracer, store, work_dir: str) -> None:
        self.spark, self.tracer, self.store = spark, tracer, store
        self.sc = spark.sparkContext
        self.work_dir = work_dir

    def _group(self, name: str, layer: str):
        self.sc.setJobGroup(f"probe:{name}", f"perfbench probe {name}")
        return self.tracer.span(f"probe.{name}", layer)

    def ladder(self, df) -> dict[str, float]:
        """distinct_count(url by lang, day) taken apart: scan, then a
        draining mapInArrow (JVM->Arrow->Python), then stage 1 (hash +
        ingest + serialize), then the whole query."""
        def drain(batches):
            # defined here so it pickles by value: the workers cannot
            # import this module
            for _ in batches:
                pass
            yield from ()

        sel = df.select("lang", "day", "url")
        with self._group("ladder", "sketchlib.spark.aggregate"):
            # best of two: the rungs differ by tenths of a second
            scan = _timed(lambda: _noop(sel), 2)
            ident = _timed(lambda: _noop(sel.mapInArrow(drain, sel.schema)), 2)
            build = _timed(lambda: _noop(build_partials(df, "url", ["lang", "day"])),
                           2)
            full = _timed(lambda: distinct_count(df, "url", ["lang", "day"],
                                                 p=P).collect(), 2)
        return {"spark.scan_s": scan, "spark.arrow_s": ident - scan,
                "aggregate.build_s": build - ident, "ladder.full_s": full,
                "ladder.build_rung_s": build}

    def merge(self, blob_df, groups: list[str]) -> dict[str, float]:
        """The merge stage alone over the workload's materialized blob table
        (collect_list shuffle + fold + serialize), with its shape."""
        with self._group("merge", "sketchlib.spark.aggregate"):
            blobs = blob_df.cache()
            shape = blobs.select(*groups, F.length("sketch").alias("n")).toPandas()
            merge_s = _timed(lambda: merge_partials(blobs, groups,
                                                    HllSpec(p=P)).collect())
            blobs.unpersist()
        return {"aggregate.merge_s": merge_s,
                "aggregate.partials": len(shape),
                "aggregate.blob_bytes": float(shape.n.sum()),
                "aggregate.fan_in_max": float(shape.groupby(groups).size().max())}

    def ingest(self, seed: int) -> tuple[dict, list, list]:
        """One episode of the ``incremental_ingest`` workload at probe size,
        its output checks included: checkpoint units, stream triggers,
        result and resume.  Returns (layer metrics, named metrics, call
        records)."""
        w = IncrementalIngest()
        w.N_ROWS = self.INGEST_ROWS
        with self._group("ingest", "sketchlib.spark.checkpoint"):
            w.setup(Ctx(self.spark, f"{self.work_dir}/ingest", seed))
            records = run_calls(w, 0, self.tracer)
        ck = w.checkpoint
        lineage = ck.lineage()
        written = sum(os.path.getsize(os.path.join(dp, f))
                      for dp, _, fs in os.walk(ck.partials_dir) for f in fs)

        def unit_s(name):
            return median(durations(records, name))

        def progress(key, fn):
            return float(median(fn(p)[key] for p in w.progress))

        def dur(p):
            return p["durationMs"]

        def state(p):
            return p["stateOperators"][0]

        metrics = {
            "checkpoint.unit_build_write_s": unit_s("checkpoint_unit"),
            "checkpoint.result_s": unit_s("checkpoint_result"),
            "checkpoint.bytes_written_per_row":
                written / sum(r["n_input_rows"] for r in lineage),
            "checkpoint.partials": float(sum(r["n_partials"] for r in lineage)),
            "stream.add_batch_ms": progress("addBatch", dur),
            "stream.trigger_ms": progress("triggerExecution", dur),
            "stream.query_planning_ms": progress("queryPlanning", dur),
            "stream.wal_commit_ms": progress("walCommit", dur),
            "stream.state_rows": progress("numRowsTotal", state),
            "stream.state_memory_bytes": progress("memoryUsedBytes", state),
            "stream.state_commit_ms": progress("commitTimeMs", state),
        }
        return metrics, w.named(records), records

    def near_dup(self, seed: int) -> tuple[dict, list, list]:
        """One ``near_dup`` workload call at probe size, its output checks
        included, plus the signature pass and the LSH candidates alone."""
        w = NearDup()
        w.N_DOCS = self.NEAR_DUP_DOCS
        with self._group("near_dup", "sketchlib.dedup.minhash"):
            w.setup(Ctx(self.spark, f"{self.work_dir}/near_dup", seed))
            records = run_calls(w, 0, self.tracer)
        with self._group("minhash_sign", "sketchlib.dedup.minhash"):
            sig = minhash_signatures(w.df, method="oph")
            sign_s = _timed(lambda: _noop(sig))
            candidates = lsh_candidate_pairs(sig.select("doc_id", "sig")).count()
        pairs = w.pairs_found
        metrics = {
            "minhash.sign_docs_per_s": w.n_docs / sign_s,
            "minhash.candidates": float(candidates),
            "minhash.verified_per_candidate": pairs / max(candidates, 1),
            "minhash.shuffle_write_bytes": float(
                self.store.totals("probe:near_dup")["shuffle_write_bytes"]),
        }
        named = w.named(records) + [
            ("near_dup_recall", w.quality["near_dup_recall"], "ratio")]
        return metrics, named, records
