"""The three workloads. Each one owns its sizes, makes its inputs from the
seed (perfbench.gen), drives the program through public entry points only,
checks every output (perfbench.oracles) and turns what it timed into
metrics. Spans record the layer boundaries when the tracer is enabled; in
a traced pass each layer's output is forced at its boundary
(``localCheckpoint`` / ``count``) so a span holds that layer's work.

A workload runs one *pass* as a closed loop of operations from this single
process: the next operation is issued only after the previous one
returned. A pass runs whole rounds of the workload's schedule until
``seconds`` have elapsed, and always at least one round;
:meth:`Workload.replay` reissues the same number of operations (the
untraced repeat of a traced run).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import contextmanager

import numpy as np

from perfbench import gen, oracles

K = 10
NPROBE = 2
# every workload reports these (name, unit); README.md says what each one is
# on each workload. Wall-clock figures (qps, latency, docs/s) are printed in
# the report but not compared: see README.md "Why CPU seconds".
END_TO_END = (
    ("setup_s", "s"), ("setup_cpu_s", "s"), ("cpu_ms_per_item", "ms"),
    ("quality", "ratio"),
)


def vec_frame(spark, ids, X, id_name: str = "id", vec_name: str = "vec"):
    import pandas as pd

    pdf = pd.DataFrame({id_name: np.asarray(ids, dtype=np.int64),
                        vec_name: list(np.asarray(X, dtype=np.float32))})
    return spark.createDataFrame(pdf, f"{id_name} long, {vec_name} array<float>")


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` (hidden checksum
    files and ``_SUCCESS`` markers excluded)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def count_shards(index_path: str) -> int:
    return sum(1 for n in os.listdir(f"{index_path}/vectors")
               if n.startswith("shard="))


def cpu_delta(a: dict, b: dict) -> float:
    """CPU seconds of the whole process tree between two snapshots."""
    return sum(b[k] - a[k] for k in a)


class Workload:
    name = ""
    round_ops = 1  # operations in one round of the workload's schedule

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list] = {}
        self.warming = False  # warm-up operations are checked, not timed

    # -- bookkeeping ---------------------------------------------------------

    def record(self, key: str, value) -> None:
        if not self.warming:
            self.samples.setdefault(key, []).append(value)

    def check(self, n_ops: int, problems: list[str]) -> None:
        """Count ``n_ops`` attempted operations, one failure per problem."""
        self.attempted += n_ops
        self.failed += min(n_ops, len(problems))
        self.problems.extend(problems[:20])

    @contextmanager
    def op(self, n_ops: int = 1):
        """An operation that fails as a whole if the program raises."""
        try:
            yield
        except Exception:  # the benchmark boundary: count, report, go on
            self.attempted += n_ops
            self.failed += n_ops
            self.problems.append(traceback.format_exc(limit=8))

    @property
    def tr(self):
        return self.ctx.tracer

    # -- driving -------------------------------------------------------------

    def generate(self) -> None:
        """Make the inputs from the seed (numpy and local files only)."""
        raise NotImplementedError

    def setup(self) -> None:
        """Hand the inputs to the program (and, where the workload says so,
        build and warm what the timed loop serves from)."""

    def expected(self) -> None:
        """Precompute oracle answers; runs untimed, before set-up."""

    def step(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Untimed measurements after the loop."""

    def run(self, seconds: float) -> int:
        """Closed loop of whole rounds until ``seconds`` have elapsed (at
        least one round); returns the number of operations issued."""
        t0 = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t0 < seconds:
            for _ in range(self.round_ops):
                self.step(i)
                i += 1
        return i

    def replay(self, n_ops: int) -> float:
        t0 = time.perf_counter()
        for i in range(n_ops):
            self.step(i)
        return time.perf_counter() - t0

    def inputs(self) -> dict:
        return {}

    def metrics(self) -> tuple[dict, dict]:
        """(end-to-end metrics other than the set-up pair run.py measures,
        report-only figures), each as ``name -> (value, unit)``."""
        raise NotImplementedError


# -- ann_bulk -------------------------------------------------------------------

class AnnBulk(Workload):
    """The paper's build/query/recall protocol at batch scale: ingest the
    corpus file through the ``annb`` DataSource, build an ``ivf_cell``
    graph index, save, load, and answer one routed top-10 query batch."""

    name = "ann_bulk"
    N, Q, CLUSTERS, SHARD_BOUND = 1000, 100, 8, 250

    def generate(self):
        self.data = gen.ann_inputs(self.seed, self.N, self.Q, self.CLUSTERS)
        self.path = os.path.join(self.ctx.work, "train.bin")
        self.file_bytes = gen.write_annb(self.path, self.data.corpus)

    def setup(self):
        from vector_index_spark import IndexParameters
        from vector_index_spark.sources.annb_datasource import AnnbDataSource

        spark = self.ctx.spark
        spark.dataSource.register(AnnbDataSource)
        self.params = IndexParameters(
            dimension=gen.DIM, minimum_connect_number=8,
            relaxed_monotonicity=64, step=2,
            sub_index_bound=self.SHARD_BOUND, shard_by="ivf_cell",
        )
        self.qdf = vec_frame(spark, np.arange(self.Q), self.data.queries, "qid")
        self.rows_per_part = -(-self.N // self.ctx.nproc)
        self.cycle = 0

    def inputs(self):
        return {"corpus_vectors": self.N, "dim": gen.DIM, "queries": self.Q,
                "clusters": self.CLUSTERS, "dup_frac": gen.DUP_FRAC,
                "sub_index_bound": self.SHARD_BOUND, "nprobe": NPROBE, "k": K,
                "file_bytes": self.file_bytes}

    def bulk(self, out: str):
        """Ingest -> build -> save -> load -> one routed query batch, checked.
        Returns the loaded index, or None when the program raised."""
        from vector_index_spark import VectorIndex

        spark, tr = self.ctx.spark, self.tr
        loaded = rows = None
        with self.op(1 + self.Q), tr.trace(f"{self.name}.bulk"):
            c0 = self.ctx.cpu.snapshot()
            t0 = time.perf_counter()
            with tr.span("sources.ingest") as sp:
                df = (spark.read.format("annb").option("path", self.path)
                      .option("rows_per_partition", str(self.rows_per_part))
                      .load())
                if tr.enabled:
                    df = df.localCheckpoint(eager=True)
                sp.attrs["bytes"] = self.file_bytes
            with tr.span("index.builder.build") as build_sp:
                idx = VectorIndex.build(df, self.params, n_cells=self.CLUSTERS)
                if tr.enabled:
                    idx.edges = idx.edges.localCheckpoint(eager=True)
                build_sp.attrs["vectors"] = self.N
            with tr.span("index.persistence.save") as sp:
                idx.save(out)
                sp.attrs["bytes"], sp.attrs["files"] = dir_usage(out)
            t1 = time.perf_counter()
            build_sp.attrs["shards"] = count_shards(out)
            with tr.span("index.persistence.load"):
                loaded = VectorIndex.load(spark, out)
                if tr.enabled:
                    loaded.vectors.count()
                    loaded.edges.count()
            with tr.span("index.searcher.query") as sp:
                rows = loaded.query(self.qdf, K, nprobe=NPROBE).collect()
                sp.attrs["queries"] = self.Q
            t2 = time.perf_counter()
            cpu = cpu_delta(c0, self.ctx.cpu.snapshot())
        if rows is None:
            return None
        self.record("bulk_cpu_s", cpu)
        self.record("build_s", t1 - t0)
        self.record("query_s", t2 - t1)
        self.record("index_bytes", dir_usage(out)[0])
        by_q = oracles.group_results((r.qid, r.rank, r.id, r.dist) for r in rows)
        qids = np.arange(self.Q)
        self.check(1 + self.Q, oracles.check_ann(
            by_q, self.data.queries, qids, self.data.corpus, K))
        self.record("bulk_recall", oracles.recall_at_k(
            by_q, self.data.queries, qids, self.data.corpus, K))
        return loaded

    def step(self, i):
        out = os.path.join(self.ctx.work, f"index-{self.cycle}")
        self.cycle += 1
        self.bulk(out)
        shutil.rmtree(out, ignore_errors=True)

    def bulk_figures(self) -> dict:
        s = self.samples
        builds = s.get("build_s", [])
        q_med = oracles.median(s.get("query_s", []))
        return {
            "build_vectors_per_s": (
                self.N * len(builds) / sum(builds) if builds else 0.0, "1/s"),
            "batch_query_qps": (self.Q / q_med if q_med else 0.0, "1/s"),
            "batch_recall_at_10": (oracles.median(s.get("bulk_recall", [])), "ratio"),
            "index_bytes_per_vector_byte": (
                oracles.median(s.get("index_bytes", []))
                / (self.N * gen.DIM * 4), "ratio"),
            "bulk_cpu_ms_per_vector": (
                oracles.median(s.get("bulk_cpu_s", [])) * 1000.0 / self.N, "ms"),
        }

    def metrics(self):
        fig = self.bulk_figures()
        e2e = {
            "cpu_ms_per_item": fig["bulk_cpu_ms_per_vector"],
            "quality": fig["batch_recall_at_10"],
        }
        report = {**fig, "cycles": (len(self.samples.get("build_s", [])), "count")}
        return e2e, report


# -- serve_mixed ----------------------------------------------------------------

class ServeMixed(AnnBulk):
    """Warm serving with writes beside reads. Set-up runs the ann_bulk
    protocol once (ingest, build, save, load, one routed batch) and warms a
    graph ``ServingIndex`` from the loaded index. Then one client issues
    10-query micro-batches, Zipf-skewed over the mixture's clusters. A
    round is read, read, wave, read: the wave (``append_to_index`` then
    ``ServingIndex.refresh``) appends rows drawn from every cluster and
    blocks the next read, which also asks for rows the wave appended
    (read-your-writes).

    The skew is YCSB's Zipfian constant (0.99; Cooper et al., "Benchmarking
    Cloud Serving Systems with YCSB", SoCC 2010). The read/write mix — 30
    queries to 20 appended rows a round, between YCSB's update-heavy
    workload A (50/50) and read-mostly B (95/5), nearer A — is a choice
    made so the write path carries weight, not a measured workload."""

    name = "serve_mixed"
    BATCH, WAVE_ROWS, RYW_QUERIES = 10, 20, 2
    ZIPF_S = 0.99
    round_ops = 4

    def generate(self):
        super().generate()
        self.corpus = self.data.corpus
        # a seeded hot set: Zipf weights over a permutation of the clusters
        perm = gen.rng_for(self.seed, "hot").permutation(self.CLUSTERS)
        self.weights = gen.zipf_weights(self.CLUSTERS, self.ZIPF_S)[perm]
        self.q_rng = gen.rng_for(self.seed, "serve-queries")
        self.w_rng = gen.rng_for(self.seed, "waves")

    def setup(self):
        super().setup()
        self.index_path = os.path.join(self.ctx.work, "serve-index")
        loaded = self.bulk(self.index_path)
        if loaded is None:
            raise RuntimeError("serve_mixed set-up: the bulk build failed\n"
                               + "\n".join(self.problems))
        with self.tr.span("index.serving.warm"):
            self.srv = loaded.serving().warm()
        self.next_id = self.N
        self.pending_ryw: list[int] = []
        self.qid = 0

    def inputs(self):
        return {**super().inputs(), "zipf_s": self.ZIPF_S,
                "batch_queries": self.BATCH, "wave_rows": self.WAVE_ROWS,
                "round": "read, read, wave, read",
                "ryw_queries": self.RYW_QUERIES}

    def step(self, i):
        if i % self.round_ops == 2:  # read, read, wave, read
            self.wave()
        else:
            self.read()

    def read(self):
        spark, tr = self.ctx.spark, self.tr
        ryw_ids, self.pending_ryw = self.pending_ryw, []
        n_new = self.BATCH - len(ryw_ids)
        Q = np.vstack([
            gen.mixture_draw(self.q_rng, self.data.centers, n_new, self.weights),
            self.corpus[ryw_ids].reshape(-1, gen.DIM),
        ])
        qids = np.arange(self.qid, self.qid + len(Q))
        self.qid += len(Q)
        ryw = {int(qids[n_new + j]): rid for j, rid in enumerate(ryw_ids)}
        qdf = vec_frame(spark, qids, Q, "qid")
        rows = None
        with self.op(len(Q)), tr.trace("serve_mixed.batch"):
            c0 = self.ctx.cpu.snapshot()
            t0 = time.perf_counter()
            with tr.span("index.serving.batch"):
                rows = self.srv.query(qdf, K, nprobe=NPROBE).collect()
            dt = time.perf_counter() - t0
            cpu = cpu_delta(c0, self.ctx.cpu.snapshot())
        if rows is None:
            return
        self.record("batch_s", dt)
        self.record("batch_cpu_s", cpu)
        self.record("queries", len(Q))
        by_q = oracles.group_results((r.qid, r.rank, r.id, r.dist) for r in rows)
        bad = oracles.check_ann(by_q, Q, qids, self.corpus, K)
        bad += oracles.check_read_your_writes(by_q, ryw)
        self.check(len(Q), bad)
        self.record("recall", (oracles.recall_at_k(
            by_q, Q[:n_new], qids[:n_new], self.corpus, K), n_new))

    def wave(self):
        from vector_index_spark.index.builder import append_to_index
        from vector_index_spark.index.persistence import load_index

        spark, tr = self.ctx.spark, self.tr
        X = gen.mixture_draw(self.w_rng, self.data.centers, self.WAVE_ROWS)
        ids = np.arange(self.next_id, self.next_id + len(X))
        wdf = vec_frame(spark, ids, X)
        dt = None
        with self.op(1), tr.trace("serve_mixed.wave"):
            c0 = self.ctx.cpu.snapshot()
            t0 = time.perf_counter()
            with tr.span("index.builder.append") as sp:
                affected = append_to_index(spark, self.index_path, wdf)
                sp.attrs["affected_shards"] = len(affected)
            with tr.span("index.persistence.load"):
                vectors, edges, _ = load_index(spark, self.index_path)
            with tr.span("index.serving.refresh") as sp:
                self.srv.refresh(vectors, edges, affected)
                sp.attrs["refresh_shards"] = len(affected)
            dt = time.perf_counter() - t0
            cpu = cpu_delta(c0, self.ctx.cpu.snapshot())
        if dt is None:
            return
        self.record("wave_cpu_s", cpu)
        self.attempted += 1
        self.corpus = np.vstack([self.corpus, X])
        self.next_id += len(X)
        self.record("wave_s", dt)
        pick = self.w_rng.choice(len(X), self.RYW_QUERIES, replace=False)
        self.pending_ryw = [int(ids[p]) for p in pick]

    def finish(self):
        """Resident footprint after the loop (one aggregate job, untimed)."""
        with self.tr.trace("serve_mixed.footprint", kind="post"), \
                self.tr.span("index.serving.bytes_resident") as sp:
            br = self.srv.bytes_resident()
            sp.attrs["bytes"] = self.resident = int(
                br.get("pinned_bytes", br["blob_bytes"]))

    def metrics(self):
        s = self.samples
        lat = [x * 1000.0 for x in s.get("batch_s", [])]
        busy = sum(s.get("batch_s", [])) + sum(s.get("wave_s", []))
        read_cpu, wave_cpu = sum(s.get("batch_cpu_s", [])), sum(s.get("wave_cpu_s", []))
        cpu = read_cpu + wave_cpu
        answered = sum(s.get("queries", []))
        # recall over every ANN answer of the run: the set-up batch (uniform
        # queries) and the served batches (Zipf-hot queries)
        rec = s.get("recall", []) + [(r, self.Q) for r in s.get("bulk_recall", [])]
        recall = sum(r * n for r, n in rec) / sum(n for _, n in rec) if rec else 0.0
        e2e = {
            # process-tree CPU per query answered, waves included
            "cpu_ms_per_item": (cpu * 1000.0 / answered if answered else 0.0, "ms"),
            "quality": (recall, "ratio"),
        }
        tail = oracles.tail_percentile(lat)
        if tail is None:
            tail_fig = (max(lat) if lat else 0.0, "ms")
            tail_info = {"percentile": 100, "samples": len(lat), "beyond": 0,
                         "note": "10 or fewer batches: the maximum is shown"}
        else:
            p, v, beyond = tail
            tail_fig = (v, "ms")
            tail_info = {"percentile": p, "samples": len(lat), "beyond": beyond}
        report = {
            "serve_latency_p50_ms": (oracles.median(lat), "ms"),
            "serve_latency_tail_ms": tail_fig,
            "serve_latency_tail": (tail_info, "info"),
            # queries answered per second of loop time, waves included; the
            # client's own checking between operations is left out
            "serve_qps": (answered / busy if busy else 0.0, "1/s"),
            "append_wave_s": (oracles.median(s.get("wave_s", [])), "s"),
            # what cpu_ms_per_item is made of: reads' share of its CPU
            "read_cpu_share": (read_cpu / cpu if cpu else 0.0, "ratio"),
            "read_cpu_s": (read_cpu, "s"),
            "wave_cpu_s": (wave_cpu, "s"),
            "recall_at_10": e2e["quality"],
            "resident_bytes_per_vector_byte": (
                self.resident / (len(self.corpus) * gen.DIM * 4), "ratio"),
            "batches": (len(lat), "count"),
            "waves": (len(s.get("wave_s", [])), "count"),
            # the bulk protocol ran once, in set-up
            **{f"setup.{k}": v for k, v in self.bulk_figures().items()},
        }
        return e2e, report


# -- dedup_corpus -----------------------------------------------------------------

class DedupCorpus(Workload):
    """The LLM-data-pipeline path: MinHash near-duplicate pairs, the keep
    set from their components, and embedding near-duplicate pairs. Uses no
    ``index.*`` code — the control for every index-layer change."""

    name = "dedup_corpus"
    N_BASE = 400
    SHINGLE_K, NUM_HASHES, BANDS, JACCARD = 3, 48, 12, 0.5
    COS = 0.05

    def generate(self):
        self.data = gen.doc_inputs(self.seed, self.N_BASE)
        self.n = len(self.data.doc_ids)

    def setup(self):
        import pandas as pd

        spark = self.ctx.spark
        self.docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": self.data.doc_ids, "text": self.data.texts}),
            "doc_id long, text string")
        self.emb = vec_frame(spark, self.data.doc_ids, self.data.emb,
                             "doc_id", "embedding")
        # one untimed pass: the JVM compiles the pipeline's plans here
        # instead of inside the measured pass
        self.warming = True
        self.step(0)
        self.warming = False

    def expected(self):
        self.sh = {int(i): oracles.shingles(t, self.SHINGLE_K)
                   for i, t in zip(self.data.doc_ids, self.data.texts)}
        self.planted = oracles.planted_qualifying_pairs(
            self.data.groups, self.sh, self.JACCARD)
        self.want_emb = oracles.embedding_pairs_bruteforce(self.data.emb, self.COS)

    def inputs(self):
        return {"docs": self.n, "base_docs": self.N_BASE,
                "planted_groups": len(self.data.groups), "dim": gen.DIM,
                "shingle_k": self.SHINGLE_K, "num_hashes": self.NUM_HASHES,
                "bands": self.BANDS, "jaccard_threshold": self.JACCARD,
                "cos_threshold": self.COS}

    def step(self, i):
        from vector_index_spark.operators.components import near_dup_clusters
        from vector_index_spark.operators.dedup import (
            embedding_near_dup,
            minhash_near_dup,
        )

        tr = self.tr
        res = None
        with self.op(3), tr.trace("dedup_corpus.pass"):
            c0 = self.ctx.cpu.snapshot()
            t0 = time.perf_counter()
            with tr.span("operators.dedup.minhash") as sp:
                # the pair relation feeds two consumers: materialize it once
                pairs_df = minhash_near_dup(
                    self.docs, shingle_k=self.SHINGLE_K,
                    num_hashes=self.NUM_HASHES, bands=self.BANDS,
                    jaccard_threshold=self.JACCARD,
                ).localCheckpoint(eager=True)
                pairs = pairs_df.collect()
                sp.attrs["pairs"] = len(pairs)
            with tr.span("operators.components.clusters") as sp:
                clusters = near_dup_clusters(self.docs, pairs_df).collect()
                sp.attrs["kept_docs"] = sum(r.keep for r in clusters)
            with tr.span("operators.dedup.embedding") as sp:
                epairs = embedding_near_dup(
                    self.emb, vec_col="embedding", id_col="doc_id",
                    cos_threshold=self.COS,
                ).collect()
                sp.attrs["pairs"] = len(epairs)
            res = (pairs, clusters, epairs, time.perf_counter() - t0)
            cpu = cpu_delta(c0, self.ctx.cpu.snapshot())
        if res is None:
            return
        pairs, clusters, epairs, dt = res
        self.record("pass_s", dt)
        self.record("pass_cpu_s", cpu)
        got = [(int(r.id_a), int(r.id_b), float(r.jaccard)) for r in pairs]
        self.check(1, oracles.check_minhash_pairs(got, self.sh, self.JACCARD))
        keep = {int(r.doc_id) for r in clusters if r.keep == 1}
        bad = oracles.check_keep_set(
            keep, self.data.doc_ids, [(a, b) for a, b, _ in got])
        if len(clusters) != self.n:
            bad.append(f"{len(clusters)} cluster rows for {self.n} docs")
        self.check(1, bad)
        got_emb = {(int(r.id_a), int(r.id_b)) for r in epairs}
        self.check(1, oracles.check_pair_set(got_emb, self.want_emb))
        found = {(a, b) for a, b, _ in got}
        self.record("pair_recall",
                    len(self.planted & found) / len(self.planted)
                    if self.planted else 1.0)

    def metrics(self):
        s = self.samples
        p = s.get("pass_s", [])
        cpu = s.get("pass_cpu_s", [])
        e2e = {
            "cpu_ms_per_item": (
                oracles.median(cpu) * 1000.0 / self.n if cpu else 0.0, "ms"),
            "quality": (oracles.median(s.get("pair_recall", [])), "ratio"),
        }
        report = {
            "dedup_docs_per_s": (self.n * len(p) / sum(p) if p else 0.0, "1/s"),
            "dedup_pass_s": (oracles.median(p), "s"),
            "dedup_pair_recall": e2e["quality"],
            "passes": (len(p), "count"),
        }
        return e2e, report


WORKLOADS = {w.name: w for w in (AnnBulk, ServeMixed, DedupCorpus)}
