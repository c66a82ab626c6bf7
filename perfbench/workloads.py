"""The four single-client closed-loop workloads.

Each workload has four phases, driven by ``run.py``:

``prepare``  generates its inputs from the seed (benchmark code, untimed
             except for the ``sources.*`` per-layer numbers);
``setup``    does the program's own set-up work (load, encode, persist,
             index build); ``run.py`` repeats it and reports the median;
``step``     one closed-loop iteration: the next call is sent only after
             the previous one returned and was checked;
``metrics``  end-to-end values; ``layer_metrics`` the per-layer ones,
             meaningful only in a traced run.

Every check failure and every exception inside ``step`` counts as a failed
operation; it never aborts the run.
"""

from __future__ import annotations

import copy
import shutil
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import gen
from .oracle import TOL, FlatOracle, check_flat, quality_np, recall_at_k

# sizes per scale; "tiny" is the smoke-test scale
SIZES = {
    "interactive": {
        "full": dict(nv=20_000, d=128, blobs=256, spread=0.15, cells=256, nprobe=8, k=10, pool=32),
        "tiny": dict(nv=3_000, d=16, blobs=16, spread=0.15, cells=16, nprobe=4, k=5, pool=4),
    },
    "bulk_scan": {
        "full": dict(nv=60_000, d=768, nq=64, k=10, pool=4),
        "tiny": dict(nv=2_000, d=32, nq=8, k=5, pool=2),
    },
    "ingest_mix": {
        "full": dict(nv=50_000, d=128, batch=2_000, rounds=3, searches=2, k=10, pool=16),
        "tiny": dict(nv=2_000, d=16, batch=200, rounds=2, searches=2, k=5, pool=4),
    },
    "curate": {
        "full": dict(docs=500),
        "tiny": dict(docs=200),
    },
}


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def cached_bytes(spark) -> int:
    """Bytes held in Spark's block manager (memory plus disk) for cached data."""
    return sum(r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


class Workload:
    name = ""
    cpus = 4  # task slots of the workload's local[N] session, at most nproc
    warm_steps = 1  # untimed warm-up passes before the loop, at the least
    # ... and untimed warm-up seconds, at full scale: calls keep speeding up
    # for a while after the first one (JIT of Spark's planner and code
    # generator, Python worker pool), and a timed loop that starts before
    # they level off turns that trend into run-to-run spread
    # (on interactive, nq=1 searches level off after about 15 s)
    warm_s = 20.0

    def __init__(self, spark, tracer, workdir: Path, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.p = SIZES[self.name][scale]
        self.attempted = 0
        self.failed = 0
        self.primary: list = []  # Calls of the workload's main operation
        self.aux: list = []  # Calls of its second operation
        self.items = 0  # work units answered by timed calls
        self.busy_s = 0.0  # time those calls took
        self.quality: list[float] = []
        self.setup_calls: list = []
        self.layers: dict[str, float] = {}  # per-layer numbers set outside calls
        self.store_bytes = 0

    # -- bookkeeping -------------------------------------------------------

    def call(self, name: str, layer: str, traced: bool = True):
        return self.tracer.call(name, layer, traced=traced)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[{self.name}] check failed: {what}", file=sys.stderr)

    def guarded(self, fn, what: str) -> None:
        """Run one operation; an exception counts as one failed operation."""
        try:
            fn()
        except Exception:  # noqa: BLE001 - a failed operation must not end the run
            self.attempted += 1
            self.failed += 1
            print(f"[{self.name}] {what} raised:\n{traceback.format_exc()}", file=sys.stderr)

    def metrics(self) -> dict[str, float]:
        return {
            "p50_ms": _median([c.wall_ms for c in self.primary]),
            "aux_p50_ms": _median([c.wall_ms for c in self.aux]),
            "quality": float(np.mean(self.quality)) if self.quality else 0.0,
            "store_mb": self.store_bytes / 2**20,
        }

    @staticmethod
    def _calls(calls, prefix: str) -> dict[str, float]:
        """Medians of the traced ``calls``' Spark counters, as ``prefix.*``."""
        cs = [c for c in calls if c.traced]
        if not cs:
            return {}
        return {
            f"{prefix}.jobs_per_call": _median([c.jobs for c in cs]),
            f"{prefix}.stages_per_call": _median([c.stages for c in cs]),
            f"{prefix}.tasks_per_call": _median([c.tasks for c in cs]),
            f"{prefix}.executor_ms": _median([c.executor_ms for c in cs]),
            f"{prefix}.job_wall_ms": _median([c.job_ms for c in cs]),
            f"{prefix}.driver_ms": _median([c.driver_ms for c in cs]),
            f"{prefix}.input_bytes": _median([c.input_bytes for c in cs]),
            f"{prefix}.shuffle_bytes": _median([c.shuffle_bytes for c in cs]),
            f"{prefix}.shuffle_records": _median([c.shuffle_write_records for c in cs]),
            f"{prefix}.cpu_ms": _median([c.cpu_s * 1e3 for c in cs]),
        }

    def _knn_layers(self, calls, nq: int, k: int) -> dict[str, float]:
        out = self._calls(calls, "knn")
        if not out:
            return {}
        out["vector_table.search_driver_ms"] = out.pop("knn.driver_ms")
        out["vector_table.search_cpu_ms"] = out.pop("knn.cpu_ms")
        out["knn.merge_records"] = recs = out.pop("knn.shuffle_records")
        out["knn.merge_yield"] = nq * k / recs if recs else 0.0
        return out

    def layer_metrics(self) -> dict[str, float]:
        return dict(self.layers)

    def warm(self) -> None:
        """One untimed pass, so one-off first-call costs stay out of the loop."""
        self.step(record=False)

    def finish(self) -> None:
        """Untimed work after the loop (checks that need the whole run)."""

    def teardown(self) -> None:
        pass


# -- interactive ------------------------------------------------------------


def _ivf_ok(L, L_ref, n: int) -> bool:
    """An approximate result is checked for shape and label range only."""
    L = np.asarray(L)
    return L.shape == L_ref.shape and bool(((L >= 0) & (L < n)).all())


class Interactive(Workload):
    """Persisted fp16 compact table plus an IVF index over it; nq=1
    searches that alternate flat and IVF."""

    name = "interactive"
    # two task slots leave the other cores of a 4-core host to the JVM's
    # JIT and GC threads and the driver: with four, a search burned about
    # half again as much CPU (one Python task per slot) and was slower
    cpus = 2

    def prepare(self) -> None:
        from faiss_metal_spark.quantize import fp16_roundtrip_np

        p = self.p
        t = time.perf_counter()
        self.V, self.Q = gen.clustered(
            self.seed, p["nv"], p["pool"], p["d"], p["blobs"], p["spread"]
        )
        self.layers["sources.gen_ms"] = (time.perf_counter() - t) * 1e3
        self.path = self.workdir / "base.parquet"
        t = time.perf_counter()
        gen.write_vectors(self.path, self.V)
        self.layers["sources.write_ms"] = (time.perf_counter() - t) * 1e3
        self.oracle = FlatOracle(self.V, stored=fp16_roundtrip_np(self.V))
        self.ref = self.oracle.topk(self.Q, p["k"])
        self.vt = self.ivf = None
        self.i = 0

    def setup(self) -> None:
        from faiss_metal_spark import IVFIndex, VectorTable

        # fp16 compact store: encode_col runs here, decode in every search
        with self.call("VectorTable.from_parquet+persist", "vector_table") as c:
            self.vt = VectorTable.from_parquet(
                self.spark, str(self.path), d=self.p["d"], id_col="id",
                storage="fp16", compact=True,
            ).persist()
            self.vt.df.count()
        self.setup_calls.append(c)
        self.table_bytes = cached_bytes(self.spark)
        with self.call("IVFIndex.from_table", "compact_index") as c:
            self.ivf = IVFIndex.from_table(self.vt, self.p["cells"])
        self.setup_calls.append(c)
        self.store_bytes = cached_bytes(self.spark)

    def teardown(self) -> None:
        if self.ivf is not None:
            self.ivf.assigned.unpersist()
        if self.vt is not None:
            self.vt.unpersist()
        self.vt = self.ivf = None

    def step(self, record: bool = True, traced: bool = True) -> None:
        p, j = self.p, self.i % self.p["pool"]
        self.i += 1
        q = self.Q[j : j + 1]
        D_ref, L_ref = self.ref[0][j : j + 1], self.ref[1][j : j + 1]

        def flat():
            with self.call("VectorTable.search_numpy", "vector_table", traced) as c:
                D, L = self.vt.search_numpy(q, p["k"])
            if record:
                self.primary.append(c)
                self.items += 1
                self.busy_s += c.wall_s
                self.check(check_flat(self.oracle, q, D, L, D_ref, L_ref, TOL["fp16"]),
                           f"flat query {j}")

        def ivf():
            with self.call("IVFIndex.search_numpy", "compact_index", traced) as c:
                D, L = self.ivf.search_numpy(q, p["k"], nprobe=p["nprobe"])
            if record:
                self.aux.append(c)
                self.items += 1
                self.busy_s += c.wall_s
                self.check(_ivf_ok(L, L_ref, p["nv"]), f"ivf query {j}")

        self.guarded(flat, "flat search")
        self.guarded(ivf, "ivf search")

    def finish(self) -> None:
        """IVF is approximate: its quality is recall@k over the whole query
        pool, from one untimed batch call after the timed loop."""

        def pool():
            D, L = self.ivf.search_numpy(self.Q, self.p["k"], nprobe=self.p["nprobe"])
            self.check(_ivf_ok(L, self.ref[1], self.p["nv"]), "ivf pool batch")
            self.quality.append(recall_at_k(L, self.ref[1]))

        self.guarded(pool, "ivf pool batch")

    def layer_metrics(self) -> dict[str, float]:
        out = dict(self.layers)
        out.update(self._knn_layers(self.primary, 1, self.p["k"]))
        s = self._calls(self.aux, "ivf")
        if s:
            out["compact_index.search_driver_ms"] = s["ivf.driver_ms"]
            out["compact_index.search_cpu_ms"] = s["ivf.cpu_ms"]
            for n in ("jobs_per_call", "executor_ms", "shuffle_bytes"):
                out[f"ivf.{n}"] = s[f"ivf.{n}"]
        out["quantize.stored_bytes_per_vector"] = self.table_bytes / self.p["nv"]
        return out


# -- bulk_scan --------------------------------------------------------------


class BulkScan(Workload):
    """fp16 compact store on local parquet, never cached: every nq=64 search
    re-scans and decodes it."""

    name = "bulk_scan"

    def prepare(self) -> None:
        from faiss_metal_spark.quantize import fp16_roundtrip_np

        p = self.p
        t = time.perf_counter()
        self.V = gen.vectors(self.seed, gen.BASE, p["nv"], p["d"])
        self.layers["sources.gen_ms"] = (time.perf_counter() - t) * 1e3
        self.raw = self.workdir / "raw.parquet"
        t = time.perf_counter()
        gen.write_vectors(self.raw, self.V)
        self.layers["sources.write_ms"] = (time.perf_counter() - t) * 1e3
        self.Q = gen.vectors(self.seed, gen.QUERIES, p["pool"] * p["nq"], p["d"])
        # the store holds fp16-rounded values with norms from the fp32 input
        self.oracle = FlatOracle(self.V, stored=fp16_roundtrip_np(self.V))
        self.ref = [
            self.oracle.topk(self.Q[b * p["nq"] : (b + 1) * p["nq"]], p["k"])
            for b in range(p["pool"])
        ]
        del self.V
        self.vt = None
        self.store = None
        self.rep = 0
        self.i = 0

    def setup(self) -> None:
        from faiss_metal_spark import VectorTable
        from faiss_metal_spark.functions.vector import sqnorm
        from faiss_metal_spark.quantize import encode_col
        from faiss_metal_spark.sources import read_vectors

        self.rep += 1
        self.store = self.workdir / f"store-{self.rep}"
        with self.call("quantize.encode_col+write", "quantize") as c:
            read_vectors(self.spark, str(self.raw)).select(
                "id", encode_col("vec", "fp16").alias("vec"), sqnorm("vec").alias("norm_sq")
            ).write.parquet(str(self.store))
            self.vt = VectorTable(
                self.spark, d=self.p["d"], storage="fp16", compact=True,
                df=self.spark.read.parquet(str(self.store)),
            )
        self.setup_calls.append(c)
        self.store_bytes = _dir_bytes(self.store)

    def teardown(self) -> None:
        if self.store is not None:
            shutil.rmtree(self.store, ignore_errors=True)
        self.vt = self.store = None

    def step(self, record: bool = True, traced: bool = True) -> None:
        p, b = self.p, self.i % self.p["pool"]
        self.i += 1
        Q = self.Q[b * p["nq"] : (b + 1) * p["nq"]]
        D_ref, L_ref = self.ref[b]

        def batch():
            with self.call("VectorTable.search_numpy(nq=64)", "vector_table", traced) as c:
                D, L = self.vt.search_numpy(Q, p["k"])
            if record:
                self.primary.append(c)
                self.items += len(Q)
                self.busy_s += c.wall_s
                self.check(check_flat(self.oracle, Q, D, L, D_ref, L_ref, TOL["fp16"]),
                           f"batch {b}")
                self.quality.append(recall_at_k(L, L_ref))

        def single():
            q = Q[:1]
            with self.call("VectorTable.search_numpy(nq=1)", "vector_table", traced) as c:
                D, L = self.vt.search_numpy(q, p["k"])
            if record:
                self.aux.append(c)
                self.items += 1
                self.busy_s += c.wall_s
                self.check(check_flat(self.oracle, q, D, L, D_ref[:1], L_ref[:1], TOL["fp16"]),
                           f"single query of batch {b}")

        self.guarded(batch, "batch search")
        self.guarded(single, "single search")

    def layer_metrics(self) -> dict[str, float]:
        out = dict(self.layers)
        out.update(self._knn_layers(self.primary, self.p["nq"], self.p["k"]))
        out["quantize.stored_bytes_per_vector"] = self.store_bytes / self.p["nv"]
        return out


# -- ingest_mix -------------------------------------------------------------


class IngestMix(Workload):
    """Persisted base table; each round appends a batch, then searches the
    grown table against a numpy mirror of everything added so far."""

    name = "ingest_mix"

    def prepare(self) -> None:
        p = self.p
        t = time.perf_counter()
        V0 = gen.vectors(self.seed, gen.BASE, p["nv"], p["d"])
        self.A = gen.vectors(self.seed, gen.APPENDS, p["rounds"] * p["batch"], p["d"])
        self.layers["sources.gen_ms"] = (time.perf_counter() - t) * 1e3
        self.path = self.workdir / "base.parquet"
        t = time.perf_counter()
        gen.write_vectors(self.path, V0)
        self.layers["sources.write_ms"] = (time.perf_counter() - t) * 1e3
        self.Q = gen.vectors(self.seed, gen.QUERIES, p["pool"], p["d"])
        self.oracle = FlatOracle(np.concatenate([V0, self.A]))
        self.base = self.vt = None
        self.round = 0
        self.i = 0
        self.depth: list[tuple[int, int]] = []  # (appends so far, stages) per traced search

    def setup(self) -> None:
        from faiss_metal_spark import VectorTable

        with self.call("VectorTable.from_parquet+persist", "vector_table") as c:
            self.base = VectorTable.from_parquet(
                self.spark, str(self.path), d=self.p["d"], id_col="id"
            ).persist()
            self.base.df.count()
        self.setup_calls.append(c)
        self.store_bytes = cached_bytes(self.spark)

    def teardown(self) -> None:
        if self.base is not None:
            self.base.unpersist()
        self.base = self.vt = None

    def step(self, record: bool = True, traced: bool = True) -> None:
        """One round: append a batch, then search the grown table. Every
        ``rounds`` rounds the episode restarts from the persisted base."""
        p = self.p
        if self.vt is None or self.round == p["rounds"]:
            self.vt = copy.copy(self.base)  # add_numpy rebinds .df; the base stays
            self.round = 0
        vt, r = self.vt, self.round
        batch = self.A[r * p["batch"] : (r + 1) * p["batch"]]
        n = p["nv"] + (r + 1) * p["batch"]

        def add():
            with self.call("VectorTable.add_numpy", "vector_table", traced) as c:
                vt.add_numpy(batch)
            self.round += 1
            if record:
                self.aux.append(c)
                self.items += len(batch)
                self.busy_s += c.wall_s

        self.guarded(add, f"add round {r}")
        if self.round != r + 1:
            self.vt = None  # the table no longer mirrors the oracle: restart
            return
        for _ in range(p["searches"]):
            j = self.i % p["pool"]
            self.i += 1
            self.guarded(lambda: self._search(vt, j, n, r + 1, record, traced),
                         f"search round {r}")

    def warm(self) -> None:
        self.step(record=False)
        self.vt = None  # the timed loop starts a fresh episode

    def _search(self, vt, j, n, appends, record, traced) -> None:
        p = self.p
        q = self.Q[j : j + 1]
        with self.call("VectorTable.search_numpy", "vector_table", traced) as c:
            D, L = vt.search_numpy(q, p["k"])
        if not record:
            return
        self.primary.append(c)
        self.busy_s += c.wall_s
        if c.traced:
            self.depth.append((appends, c.stages))
        sub = self.oracle.prefix(n)
        D_ref, L_ref = sub.topk(q, p["k"])
        self.check(check_flat(sub, q, D, L, D_ref, L_ref, TOL["fp32"]),
                   f"search of query {j} after {appends} appends")
        self.quality.append(recall_at_k(L, L_ref))

    def layer_metrics(self) -> dict[str, float]:
        out = dict(self.layers)
        out.update(self._knn_layers(self.primary, 1, self.p["k"]))
        s = self._calls(self.aux, "add")
        if s:
            out["vector_table.add_driver_ms"] = s["add.driver_ms"]
            out["vector_table.add_jobs"] = s["add.jobs_per_call"]
            out["vector_table.add_executor_ms"] = s["add.executor_ms"]
        if len({a for a, _ in self.depth}) > 1:
            a, st = zip(*self.depth)
            out["knn.stages_growth_per_append"] = float(np.polyfit(a, st, 1)[0])
        out["quantize.stored_bytes_per_vector"] = self.store_bytes / self.p["nv"]
        return out


# -- curate -----------------------------------------------------------------


class Curate(Workload):
    """curate_corpus over a persisted synthetic corpus with planted exact
    and near duplicates; no kNN calls."""

    name = "curate"
    # the pipeline is almost all JVM work, and a fresh JVM keeps getting
    # faster at it for a long while (JIT): the first call takes several
    # times as long as the later ones, and on a loaded host the calls were
    # still drifting down a few percent each after half a minute. A longer
    # warm-up does not fit the benchmark's time budget (4 + 22 runs per
    # workload)
    warm_steps = 3
    warm_s = 30.0
    # the text pass is short and easily hit by a burst of host load: each
    # step runs it several times so that its median rests on a few dozen
    # samples
    SCORE_PASSES = 8

    def prepare(self) -> None:
        t = time.perf_counter()
        self.corpus = gen.Corpus(self.seed, self.p["docs"])
        self.layers["sources.gen_ms"] = (time.perf_counter() - t) * 1e3
        qual = np.array([quality_np(t) for t in self.corpus.texts])
        if (qual < 0.5).any():
            raise RuntimeError("generator bug: a document falls under the quality cut")
        self.tokens_ref = sum(len(t.split(" ")) for t in self.corpus.texts)
        self.quality_ref = float(qual.sum())
        self.docs = None
        self.survivors = None
        self.dedup_runs: list[tuple] = []

    def setup(self) -> None:
        pdf = pd.DataFrame({"doc_id": self.corpus.ids, "text": self.corpus.texts})
        with self.call("createDataFrame+persist", "sources") as c:
            self.docs = self.spark.createDataFrame(pdf, "doc_id long, text string").persist()
            self.docs.count()
        self.setup_calls.append(c)
        self.store_bytes = cached_bytes(self.spark)

    def teardown(self) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        self.docs = None

    def step(self, record: bool = True, traced: bool = True) -> None:
        from faiss_metal_spark.functions.text import quality_score, token_count
        from faiss_metal_spark.pipeline import curate_corpus

        cp = self.corpus

        def curate():
            with self.call("pipeline.curate_corpus", "pipeline", traced) as c:
                kept = {r[0] for r in curate_corpus(self.docs, keep_cols=()).select("doc_id").collect()}
            if not record:
                return
            self.primary.append(c)
            self.items += len(cp.ids)
            self.busy_s += c.wall_s
            dropped = set(cp.ids.tolist()) - kept
            self.check(cp.exact <= dropped, "an exact copy survived")
            self.check(cp.base <= kept, "an independent document was dropped")
            if self.survivors is None:
                self.survivors = kept
            self.check(kept == self.survivors, "survivor set changed between repetitions")
            self.quality.append(len(cp.near & dropped) / len(cp.near))

        def score():
            with self.call("functions.text quality_score+token_count", "functions.text", traced) as c:
                row = self.docs.select(
                    F.sum(token_count("text")), F.sum(quality_score("text"))
                ).collect()[0]
            if not record:
                return
            self.aux.append(c)
            self.busy_s += c.wall_s
            self.check(int(row[0]) == self.tokens_ref
                       and abs(row[1] - self.quality_ref) <= 1e-9 * self.quality_ref,
                       "text scores differ from the numpy mirror")

        self.guarded(curate, "curate_corpus")
        for _ in range(self.SCORE_PASSES):
            self.guarded(score, "text scoring")
        if self.tracer.enabled and traced and record:
            self.guarded(self._dedup_stages, "dedup stages")

    def _dedup_stages(self) -> None:
        """Traced run only: each operators.dedup stage on its own, with the
        curate_corpus defaults, so each gets its own span and counts."""
        from faiss_metal_spark.operators.dedup import (
            connected_components,
            lsh_candidate_pairs,
            minhash_signatures,
            ngram_jaccard_pairs,
        )

        with self.call("dedup.minhash_signatures", "operators.dedup") as c1:
            sig = minhash_signatures(self.docs, num_hashes=8, shingle_size=3).persist()
            sig.count()
        with self.call("dedup.lsh_candidate_pairs", "operators.dedup") as c2:
            cand = lsh_candidate_pairs(sig, num_hashes=8, bands=4).persist()
            n_cand = cand.count()
        with self.call("dedup.ngram_jaccard_pairs", "operators.dedup") as c3:
            ver = ngram_jaccard_pairs(
                self.docs, pair_candidates=cand, shingle_size=3, threshold=0.5, max_df=None
            ).select("id_a", "id_b").persist()
            n_ver = ver.count()
        with self.call("dedup.connected_components", "operators.dedup") as c4:
            connected_components(ver).count()
        for df in (sig, cand, ver):
            df.unpersist()
        self.dedup_runs.append((c1, c2, c3, c4, n_cand, n_ver))

    def layer_metrics(self) -> dict[str, float]:
        out = dict(self.layers)
        runs = self.dedup_runs
        if runs:
            for i, n in enumerate(("minhash", "lsh", "verify", "cc")):
                out[f"dedup.{n}_ms"] = _median([r[i].wall_ms for r in runs])
            out["dedup.cc_jobs"] = _median([r[3].jobs for r in runs])
            out["dedup.candidate_pairs"] = _median([r[4] for r in runs])
            out["dedup.verified_pairs"] = _median([r[5] for r in runs])
            out["dedup.verify_yield"] = (
                out["dedup.verified_pairs"] / out["dedup.candidate_pairs"]
                if out["dedup.candidate_pairs"] else 0.0
            )
        s = self._calls(self.primary, "pipeline")
        if s:
            out["pipeline.curate_driver_ms"] = s["pipeline.driver_ms"]
            out["pipeline.curate_jobs"] = s["pipeline.jobs_per_call"]
            out["pipeline.curate_executor_ms"] = s["pipeline.executor_ms"]
            out["pipeline.curate_cpu_ms"] = s["pipeline.cpu_ms"]
            out["pipeline.curate_shuffle_bytes"] = s["pipeline.shuffle_bytes"]
        t = [c for c in self.aux if c.traced]
        if t:
            out["text.score_ms"] = _median([c.wall_ms for c in t])
        return out


WORKLOADS = {w.name: w for w in (Interactive, BulkScan, IngestMix, Curate)}
