"""Benchmark inputs, all generated from the run's seed through
``sketchlib.data.pages.generate_pages``, and the exact oracles computed
from them in pandas (independently of Spark and of the sketches).

* the ``pages`` table, written day-partitioned;
* the day-by-day arrival files of the ingest workload;
* the near-duplicate corpus: the stock generator plants no near-duplicates
  (its texts are independent token draws), so copies with one token
  substituted are appended here, with their exact Jaccard recorded.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sketchlib.data.pages import generate_pages

EPOCH_DAY = "2026-01-01"  # generate_pages' fixed epoch


def pages_frame(n_rows: int, seed: int, n_days: int = 7,
                mean_tokens: float = 40.0) -> tuple[pd.DataFrame, float]:
    """(pages without the html payload, generation seconds).  No workload
    reads ``html`` and the scan would prune it, so it is not written.
    Adds the derived ``day``/``dayn``/``hour``/``host``/``tlen`` columns the
    Spark side derives from the same row (see :func:`read_pages`)."""
    t0 = time.perf_counter()
    pdf = generate_pages(n_rows, seed=seed, n_days=n_days,
                         mean_tokens=mean_tokens)
    gen_s = time.perf_counter() - t0
    pdf = pdf.drop(columns=["html"])
    pdf["day"] = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    pdf["dayn"] = (pdf["warc_ts"].dt.normalize()
                   - pd.Timestamp(EPOCH_DAY)).dt.days.astype("int32")
    pdf["hour"] = pdf["warc_ts"].dt.hour.astype("int32")
    pdf["host"] = pdf["url"].str.split("/", n=3).str[2]
    pdf["tlen"] = pdf["text"].str.len().astype("int32")
    return pdf, gen_s


RAW_COLS = ["url", "warc_ts", "text", "lang", "day"]


def write_partitioned(pdf: pd.DataFrame, out_dir: str) -> str:
    """Day-partitioned Parquet, so per-day filters prune files.  Not
    write_pages_parquet's lang/day layout: at 10^4-10^5 rows that is ~70
    files of ~10^3 rows, and the scan would measure file opening."""
    table = pa.Table.from_pandas(pdf[RAW_COLS], preserve_index=False)
    pq.write_to_dataset(table, root_path=out_dir, partition_cols=["day"],
                        coerce_timestamps="us")
    return out_dir


def write_file(pdf: pd.DataFrame, path: str, cols=RAW_COLS) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf[cols], preserve_index=False), path,
                   coerce_timestamps="us")
    return path


def with_derived(df):
    """The derived columns of :func:`pages_frame`, computed JVM-side."""
    return (df.withColumn("day", F.col("day").cast("string"))
            .withColumn("dayn", F.datediff(F.to_date("day"), F.lit(EPOCH_DAY)))
            .withColumn("hour", F.hour("warc_ts"))
            .withColumn("host", F.expr("parse_url(url, 'HOST')"))
            .withColumn("tlen", F.length("text")))


def read_pages(spark, path: str):
    return with_derived(spark.read.parquet(path))


# -- near-duplicate corpus -----------------------------------------------------------

SHINGLE_K = 3
_WS = re.compile(r"\s+")


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Python twin of ``sketchlib.dedup.minhash.shingles_col``: distinct
    lowercased word k-grams; shorter docs give their whole token string."""
    toks = _WS.split(text.strip().lower())
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def near_dup_corpus(n_docs: int, seed: int, plant_frac: float = 0.05,
                    min_tokens: int = 40, min_jaccard: float = 0.8
                    ) -> tuple[pd.DataFrame, dict[tuple[int, int], float], float]:
    """(corpus with ``doc_id``, planted pairs -> exact Jaccard, generation
    seconds).  A planted copy is a source doc of at least ``min_tokens``
    tokens with one token replaced by a token absent from the vocabulary;
    pairs below ``min_jaccard`` are not planted."""
    pdf, gen_s = pages_frame(n_docs, seed, mean_tokens=60.0)
    pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
    rng = np.random.default_rng(seed + 1)
    n_tok = pdf["text"].str.count(" ") + 1
    eligible = np.flatnonzero(n_tok.to_numpy() >= min_tokens)
    src = np.sort(rng.choice(eligible, size=min(len(eligible),
                                                int(n_docs * plant_frac)),
                             replace=False))
    copies, planted = [], {}
    for k, s in enumerate(src.tolist()):
        toks = pdf["text"].iat[s].split(" ")
        toks[int(rng.integers(len(toks)))] = f"planted{k}"
        text = " ".join(toks)
        j = jaccard(pdf["text"].iat[s], text)
        if j < min_jaccard:
            continue
        row = pdf.iloc[s].copy()
        row["text"] = text
        row["url"] = row["url"] + "?copy"
        row["doc_id"] = n_docs + len(copies)
        row["tlen"] = len(text)
        copies.append(row)
        planted[(int(s), int(row["doc_id"]))] = j
    corpus = pd.concat([pdf, pd.DataFrame(copies)], ignore_index=True)
    corpus["doc_id"] = corpus["doc_id"].astype(np.int64)
    return corpus, planted, gen_s
