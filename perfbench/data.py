"""Oracles and checks of the benchmark: the exhaustive oracle pair sets, the
checks that score the engine's outputs, and peak memory of the engine's
processes.

The oracle pairs are every pair of pages whose signatures, computed by the
numpy kernels in this process, agree in at least the verify threshold's share
of cells. They are found by blocked all-pairs comparison, so they do not
depend on banding, candidate tiers or Spark.
"""

from __future__ import annotations

import os

import numpy as np

from minhash_spark import oracle
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
from minhash_spark.functions.shingles import normalize_text, shingle_fn


def local_signatures(texts, cfg) -> np.ndarray:
    """int32[n, sketch_size] signatures by the numpy kernels."""
    shingler = shingle_fn(cfg.shingle_mode, cfg.shingle_size)
    return sketch_to_int(min_sketch_batch([shingler(t) for t in texts], cfg.minhash))


def _close_pairs(urls, close_rows, block: int = 128) -> set[tuple[str, str]]:
    """Every (url_a, url_b), url_a < url_b, that `close_rows(rows)` marks in
    its bool matrix of rows × all docs, by blocked all-pairs comparison."""
    out = set()
    for i0 in range(0, len(urls), block):
        for i, j in zip(*np.nonzero(close_rows(slice(i0, i0 + block)))):
            gi = i0 + int(i)
            if gi < j:
                a, b = urls[gi], urls[int(j)]
                out.add((a, b) if a < b else (b, a))
    return out


def oracle_pairs(urls, sigs: np.ndarray, threshold: float) -> set[tuple[str, str]]:
    """Pairs whose signatures agree in a share of cells ≥ threshold."""
    return _close_pairs(
        urls, lambda rows: (sigs[rows, None, :] == sigs[None, :, :]).mean(axis=2) >= threshold
    )


def check_sketches(texts, cfg, n: int = 2) -> bool:
    """Check the numpy kernels' signatures of `n` texts bit for bit against
    the serial reference sketch (oracle.sketch_of_set), shortest texts first
    so the per-element reference loop stays cheap."""
    shingler = shingle_fn(cfg.shingle_mode, cfg.shingle_size)
    sample = sorted(texts, key=len)[:n]
    want = np.stack([oracle.sketch_of_set(shingler(t), cfg.minhash) for t in sample])
    return np.array_equal(sketch_to_int(want), local_signatures(sample, cfg))


def score(got: set, want: set) -> tuple[float, float]:
    """(recall, precision) of reported pairs against oracle pairs."""
    hit = len(got & want)
    recall = hit / len(want) if want else 1.0
    precision = hit / len(got) if got else 1.0
    return recall, precision


def clusters_consistent(pairs, clusters: dict[str, str]) -> bool:
    """Clusters equal the connected components of the reported pairs, each
    labelled by its least url."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent} == clusters


def simhash_oracle(urls, fps: np.ndarray, max_hamming: int = 3) -> set[tuple[str, str]]:
    """Pairs whose 64-bit fingerprints differ in at most `max_hamming` bits."""
    f = fps.astype(np.uint64)

    def close_rows(rows):
        x = f[rows, None] ^ f[None, :]
        bits = np.unpackbits(x.view(np.uint8).reshape(x.shape + (8,)), axis=2).sum(axis=2)
        return bits <= max_hamming

    return _close_pairs(urls, close_rows)


def contained(texts_by_url: dict[str, str], pairs) -> bool:
    """Every (containee, container) pair really is a containment of the
    normalized texts."""
    norm = {}
    for a, b in pairs:
        for u in (a, b):
            if u not in norm:
                norm[u] = normalize_text(texts_by_url[u])
        if a == b or not norm[a] or norm[a] not in norm[b]:
            return False
    return True


# -- memory ----------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    parents = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process exited while we listed
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        frontier += kids
    return out


def cpu_seconds() -> float:
    """User plus system CPU seconds of this process and its descendants (the
    Spark JVM, the PySpark daemon and its Python workers), with those of
    their children that have exited. Time the host takes from the machine's
    virtual CPUs is not charged to them."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak RSS of this process's descendants (the Spark JVM, the PySpark
    daemon and its Python workers) over a region: each process's kernel
    high-water mark is reset on entry and read on exit, and the peaks are
    summed. No sampling thread competes with the measured work."""

    def __enter__(self):
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset VmHWM to the current RSS
            except OSError:
                continue
        return self

    def __exit__(self, *exc):
        self.peak_bytes = 0
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = next(l for l in f if l.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.peak_bytes += int(hwm.split()[1]) * 1024
