"""The benchmark's workloads. Each drives the engine only through its product
entry points — `DedupPipeline`, `simhash`/`substring`, and
`streaming.incremental` — and checks every output against an oracle built in
set-up.

A workload has `prepare()` (inputs and oracle, no Spark; it runs while the
session starts), `setup()` (what needs the session) and `warmup()`, all
untimed and part of `setup_s`, and `calls()`: the calls a run makes, `rounds`
times `side_calls` of the shorter side call followed by the main call. A
call returns the number of documents it handled and the wall and CPU
seconds spent inside the engine, and raises `CheckFailed` when an output is
wrong.

`warmup()` makes the workload's repeated calls once, unchecked and
untraced, so the timed calls do not pay the session's first Spark plans,
JIT compilation and Python worker imports: a first call takes two to four
times as long as the next, and varies with the host's load far more.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from minhash_spark.config import DedupConfig
from minhash_spark.functions.kernels import min_sketch_batch
from minhash_spark.functions.shingles import char_shingle_sets_batch
from minhash_spark.operators.lsh import release_persisted
from minhash_spark.operators.simhash import simhash_batch, simhash_candidates, with_simhash
from minhash_spark.operators.substring import substring_dedup
from minhash_spark.pipeline import DedupPipeline
from minhash_spark.sources.pages import generate_corpus, read_pages
from minhash_spark.streaming.incremental import incremental_dedup_batch, probe_store

from . import data

RECALL_GATE = 0.99
PIPELINE_STAGES = (
    ("compute_signatures", "signatures"),
    ("compute_candidates", "candidates"),
    ("compute_verified", "verify"),
    ("compute_clusters", "clusters"),
)


class CheckFailed(Exception):
    pass


def _pairs(rows) -> set[tuple[str, str]]:
    return {(a, b) if a < b else (b, a) for a, b in rows}


def _read(path: str, *cols: str) -> list[list]:
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_pylist() for c in cols]


def _seconds(span: dict) -> float:
    return span["end"] - span["start"]


def _cpu(span: dict) -> float:
    return span["cpu_end"] - span["cpu_start"]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Shared state: session, tracer, work directory, and the pair scores of
    every checked call."""

    cfg = DedupConfig()

    def __init__(self, tracer, work: str, cache: str, seed: int):
        self.spark = None  # set once the session is up, before setup()
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.recalls: list[float] = []
        self.precisions: list[float] = []
        self.layer_counts: dict[str, float] = {}
        self.store_bytes_per_doc = 0.0

    def corpus(self, pdf) -> None:
        """Take a corpus, after checking the kernels that make the oracle's
        signatures against the serial reference sketch."""
        self.urls = list(pdf["url"])
        self.texts = list(pdf["text"])
        if not data.check_sketches(self.texts, self.cfg):
            raise CheckFailed("numpy kernels disagree with the serial reference sketch")

    def oracle(self) -> None:
        self.sigs = data.local_signatures(self.texts, self.cfg)
        self.want = data.oracle_pairs(self.urls, self.sigs, self.cfg.jaccard_threshold)

    def round(self, main, side) -> list:
        self.main_name, self.side_name = main[0], side[0]
        return ([side] * self.side_calls + [main]) * self.rounds

    def record(self, got: set, want: set) -> None:
        recall, precision = data.score(got, want)
        self.recalls.append(recall)
        self.precisions.append(precision)
        if recall < RECALL_GATE or precision < 1.0:
            raise CheckFailed(
                f"recall {recall:.4f} precision {precision:.4f} "
                f"({len(got)} reported, {len(want)} oracle pairs)"
            )


class MixedSkew(Workload):
    """generate_corpus pages as the date-partitioned pages table: about 40% of
    docs in injected dup clusters, including one boilerplate cluster. Main
    call: `DedupPipeline.run(resume=False)`, pages table to committed
    clusters. Side call: SimHash candidates plus substring containment over
    the same pages, which hold near-identical and contained docs."""

    n_pages = 400
    rounds = 1
    side_calls = 4
    # The bucket tiers are scaled to the corpus: at 400 pages the largest
    # band buckets pass 32 members, so candidate enumeration takes the salted
    # tier, as a 10k-page corpus does at the default cap of 500.
    cfg = DedupConfig(max_bucket_size=32)

    def prepare(self) -> None:
        pdf, _, _ = generate_corpus(self.n_pages, self.seed)
        self.pages_dir = os.path.join(self.work, "pages")
        _write_pages(pdf, self.pages_dir)
        self.corpus(pdf)
        self.oracle()
        self.sig_of = dict(zip(self.urls, map(bytes, self.sigs.astype("<i4"))))
        self.sim_want = data.simhash_oracle(self.urls, simhash_batch(self.texts))
        self.text_of = dict(zip(self.urls, self.texts))

    def setup(self) -> None:
        self.pages = read_pages(self.spark, self.pages_dir)

    def warmup(self) -> None:
        """One side call. The pipeline is not warmed up: a batch pipeline
        runs once in its session, as a `spark-submit` of it does. It runs
        after the side calls, which share some of its code paths."""
        self.sidepath(self.pages.select("url", "text"))

    def calls(self):
        return self.round(("pipeline", self.run_pipeline), ("sidepath", self.run_sidepath))

    def run_pipeline(self) -> tuple[int, float, float]:
        out = os.path.join(self.work, "dedup")
        shutil.rmtree(out, ignore_errors=True)
        p = DedupPipeline(self.spark, self.cfg, out)
        for method, layer in PIPELINE_STAGES:
            setattr(p, method, self.tracer.wrap(layer, getattr(p, method)))
        with self.tracer.span("pipeline") as sp:
            res = p.run(self.pages, resume=False)
        urls, sigs = _read(res.signatures_path, "url", "minhash")
        if len(urls) != len(self.urls) or any(
            self.sig_of[u] != bytes(s) for u, s in zip(urls, sigs)
        ):
            raise CheckFailed("stored signatures differ from the oracle's")
        got = _pairs(zip(*_read(res.pairs_path, "url_a", "url_b")))
        members, labels = _read(res.clusters_path, "url", "cluster_id")
        if not data.clusters_consistent(got, dict(zip(members, labels))):
            raise CheckFailed("clusters are not the components of the pairs")
        self.record(got, self.want)
        self.layer_counts = _stage_counts(os.path.join(out, "metrics"))
        return len(self.urls), _seconds(sp), _cpu(sp)

    def sidepath(self, pages):
        with self.tracer.span("simhash") as sim_sp:
            sim = _pairs(
                simhash_candidates(with_simhash(pages)).select("url_a", "url_b").collect()
            )
            release_persisted()
        with self.tracer.span("substring") as sub_sp:
            sub = [tuple(r) for r in substring_dedup(pages).collect()]
            release_persisted()
        return sim, sub, _seconds(sim_sp) + _seconds(sub_sp), _cpu(sim_sp) + _cpu(sub_sp)

    def run_sidepath(self) -> tuple[int, float, float]:
        sim, sub, seconds, cpu = self.sidepath(self.pages.select("url", "text"))
        if data.score(sim, self.sim_want) != (1.0, 1.0):
            raise CheckFailed("simhash pairs differ from the all-pairs Hamming oracle")
        if not sub or not data.contained(self.text_of, sub):
            raise CheckFailed("substring pairs that are not containments")
        return len(self.urls), seconds, cpu


def _write_pages(pdf, path: str) -> None:
    """`pdf` as the date-partitioned pages table."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.set_column(
        1, "warc_ts", table.column("warc_ts").cast(pa.timestamp("us"))
    ).append_column("ds", pa.array(pdf["warc_ts"].dt.strftime("%Y-%m-%d")))
    pq.write_to_dataset(table, path, partition_cols=["ds"])


def _stage_counts(metrics_dir: str) -> dict[str, float]:
    """Candidate and verified pair counts from the pipeline's own metrics."""

    def last(stage):
        with open(os.path.join(metrics_dir, f"{stage}.jsonl")) as f:
            return json.loads(f.read().splitlines()[-1])

    cand, pairs = last("candidates"), last("pairs")
    return {
        "candidates.n_pairs": cand["n_candidate_pairs"],
        "candidates.max_bucket": cand["max_bucket"],
        "candidates.yield": pairs["n_verified_pairs"] / max(cand["n_candidate_pairs"], 1),
        "verify.n_pairs": pairs["n_verified_pairs"],
    }


class IngestProbe(Workload):
    """Small batches against a signature store. The store holds 800 pages of
    a fixed generate_corpus corpus and is built once per checkout with
    `incremental_dedup_batch`; every run starts from a byte copy of it. The
    seed orders the other 400 pages into the stream the calls take from.
    One caller, closed loop, three times: probe the store for the next
    pages, then ingest a batch of them."""

    corpus_pages = 1200
    store_pages = 800
    batch_docs = 100
    probe_docs = 50
    warm_docs = 50
    # incremental_dedup_batch's sizing rule: a batch's band rows well below
    # the store's band rows per bucket
    store_buckets = 8
    rounds = 3
    side_calls = 1

    def prepare(self) -> None:
        self.pdf, _, _ = generate_corpus(self.corpus_pages, 0)
        self.corpus(self.pdf)
        self.cache = os.path.join(self.cache, f"ingest-{self.corpus_pages}-{self.store_pages}")
        self.base = os.path.join(self.cache, "store-base")
        oracle_json = os.path.join(self.cache, "oracle_pairs.json")
        if os.path.isdir(self.base):
            with open(oracle_json) as f:
                self.want = {tuple(p) for p in json.load(f)}
        else:
            self.oracle()
            os.makedirs(self.cache, exist_ok=True)
            with open(oracle_json, "w") as f:
                json.dump(sorted(self.want), f)
        order = np.random.default_rng(self.seed).permutation(
            np.arange(self.store_pages, self.corpus_pages)
        )
        self.stream = self.pdf.iloc[order].reset_index(drop=True)

    def setup(self) -> None:
        if not os.path.isdir(self.base):
            self.build_store()
        self.store_bytes_per_doc = _du(self.base) / self.store_pages
        self.reset()

    def warmup(self) -> None:
        """One ingest and one probe of the stream's last pages, on a copy of
        the store that is then dropped."""
        warm = os.path.join(self.work, "warm-store")
        shutil.copytree(self.base, warm)
        batch = self.spark.createDataFrame(self.stream.iloc[-self.warm_docs :])
        incremental_dedup_batch(
            self.spark, batch, warm, self.cfg, epoch_id=1, n_store_buckets=self.store_buckets
        ).collect()
        probe_store(self.spark, batch, warm, self.cfg).collect()
        shutil.rmtree(warm)

    def reset(self) -> None:
        """A byte copy of the set-up store, and the stream from its start."""
        self.store = os.path.join(self.work, "store")
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.base, self.store)
        self.stored = set(self.urls[: self.store_pages])
        self.next_doc = 0
        self.epoch = 1

    def build_store(self) -> None:
        """The set-up store, built on the first run in a checkout and kept
        (with the oracle pairs): its corpus does not depend on the seed."""
        tmp = os.path.join(self.cache, f"store-build-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        store = self.pdf.iloc[: self.store_pages]
        got = incremental_dedup_batch(
            self.spark,
            self.spark.createDataFrame(store),
            tmp,
            self.cfg,
            epoch_id=0,
            n_store_buckets=self.store_buckets,
        ).select("url_a", "url_b").collect()
        urls = set(store["url"])
        self.record(_pairs(got), self._touching(urls, urls))
        os.rename(tmp, self.base)

    def _touching(self, batch: set, others: set) -> set:
        """Oracle pairs with one end in `batch` and the other in `others`."""
        return {
            (a, b)
            for a, b in self.want
            if (a in batch and b in others) or (b in batch and a in others)
        }

    def _take(self, n: int):
        if self.next_doc + n > len(self.stream):
            self.reset()
        batch = self.stream.iloc[self.next_doc : self.next_doc + n]
        self.next_doc += n
        return batch

    def calls(self):
        return self.round(("ingest", self.run_ingest), ("probe", self.run_probe))

    def run_ingest(self) -> tuple[int, float, float]:
        batch = self._take(self.batch_docs)
        urls = set(batch["url"])
        with self.tracer.span("ingest") as sp:
            got = incremental_dedup_batch(
                self.spark,
                self.spark.createDataFrame(batch),
                self.store,
                self.cfg,
                epoch_id=self.epoch,
                n_store_buckets=self.store_buckets,
            ).select("url_a", "url_b").collect()
        self.record(_pairs(got), self._touching(urls, self.stored | urls))
        self.stored |= urls
        self.epoch += 1
        return len(batch), _seconds(sp), _cpu(sp)

    def run_probe(self) -> tuple[int, float, float]:
        batch = self._take(self.probe_docs)
        with self.tracer.span("probe") as sp:
            got = probe_store(
                self.spark, self.spark.createDataFrame(batch), self.store, self.cfg
            ).select("url_a", "url_b").collect()
        self.next_doc -= len(batch)  # probed pages stay in the stream
        self.record(_pairs(got), self._touching(set(batch["url"]), self.stored))
        return len(batch), _seconds(sp), _cpu(sp)


def kernel_rates(texts, cfg) -> dict[str, float]:
    """Single-threaded in-process shingle and sketch kernel speed on a fixed
    slice of the workload's texts (median of three passes)."""
    mb = sum(len(t.encode()) for t in texts) / 1e6
    shingle_s, sketch_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        sets = char_shingle_sets_batch(texts, cfg.shingle_size)
        t1 = time.perf_counter()
        min_sketch_batch(sets, cfg.minhash)
        shingle_s.append(t1 - t0)
        sketch_s.append(time.perf_counter() - t1)
    n_shingles = sum(len(s) for s in sets)
    return {
        "kernels.shingle_mb_per_s": mb / float(np.median(shingle_s)),
        "kernels.sketch_ns_per_shingle": float(np.median(sketch_s)) / n_shingles * 1e9,
    }


WORKLOADS = {"mixed-skew": MixedSkew, "ingest-probe": IngestProbe}
