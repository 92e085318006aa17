"""The three workloads. Each one prepares seeded inputs and references
(untimed, cached), sets the program up, warms every op shape, and then
hands the harness one round of ops at a time. An op is a ``(label, run,
check)`` triple: ``run`` makes only program calls and is timed; ``check``
compares its result with the reference and returns problems.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs

#: Input sizes per mode. "full" is what the benchmark measures; "smoke"
#: runs every workload end to end in seconds, with every check on.
SIZES = {
    "full": {"mr_bytes": 256_000, "mr_warm_bytes": 50_000, "sql_sf": 0.02,
             "n_corpus": 3000, "batch": 64},
    "smoke": {"mr_bytes": 20_000, "mr_warm_bytes": 5_000, "sql_sf": 0.002,
              "n_corpus": 300, "batch": 20},
}


def _cached(path: str, build) -> str:
    """Build ``path`` (a directory) once: ``build(tmp)`` fills a scratch
    directory that is renamed into place, so a killed run never leaves a
    half-written cache entry behind."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.replace(tmp, path)
    return path


def _parquet_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class Workload:
    name = ""
    #: Seconds one round of ops takes on the reference 4-CPU box; a run
    #: of ``--seconds`` does ``round(seconds / ROUND_S)`` rounds.
    ROUND_S = 1.0

    def __init__(self, seed: int, sizes: dict, cache: str, state: str, rec) -> None:
        self.seed, self.sizes, self.cache, self.state, self.rec = seed, sizes, cache, state, rec

    def prepare(self) -> None:
        """Generate or load inputs and references (not program work)."""

    def setup(self, spark) -> None:
        """Program set-up that precedes the first op (counted in setup_s)."""
        self.spark = spark

    def warmup(self) -> None:
        """Run every op shape once, untimed and unchecked."""

    def round(self, r: int) -> list:
        raise NotImplementedError

    def corrupt(self, result):
        """A copy of an op result with one value wrong (checker self-test)."""
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        return {}


# --------------------------------------------------------------------------


class MrJobs(Workload):
    """WRITE a new text file, MAP-REDUCE it with the word-count job, READ
    the result, READ the stored input back."""

    name = "mr_jobs"
    ROUND_S = 15.0
    N_TEXTS = 8

    def prepare(self) -> None:
        key = f"s{self.seed}-b{self.sizes['mr_bytes']}-w{self.sizes['mr_warm_bytes']}"

        def build(tmp):
            for i in range(-1, self.N_TEXTS):
                size = self.sizes["mr_warm_bytes"] if i < 0 else self.sizes["mr_bytes"]
                text = inputs.mr_text(self.seed, i + 1, size)
                with open(os.path.join(tmp, f"text_{i + 1}.txt"), "w") as fh:
                    fh.write(text)
                with open(os.path.join(tmp, f"counts_{i + 1}.json"), "w") as fh:
                    json.dump(checks.word_counts(text), fh)

        self.dir = _cached(os.path.join(self.cache, "mr", key), build)
        self.counts = {}
        self.output_lines = []
        self.ops = 0

    def setup(self, spark) -> None:
        super().setup(spark)
        from map_reduce_framework_using_python_spark import cli
        from map_reduce_framework_using_python_spark.mr.job import (
            WORDCOUNT_MAPPER,
            WORDCOUNT_REDUCER,
        )

        self.cli = cli
        self.dfs = os.path.join(self.state, "dfs")
        job = os.path.join(self.state, "job")
        os.makedirs(job)
        self.mapper, self.reducer = (os.path.join(job, f) for f in ("mapper.py", "reducer.py"))
        for path, src in ((self.mapper, WORDCOUNT_MAPPER), (self.reducer, WORDCOUNT_REDUCER)):
            with open(path, "w") as fh:
                fh.write(src)

    def _op(self, text_index: int, read_input: bool = True):
        n = self.ops
        self.ops += 1
        src = os.path.join(self.dir, f"text_{text_index}.txt")
        path = os.path.join(self.state, "in", f"text_{n:04d}.txt")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.copyfile(src, path)
        out = os.path.join(self.state, "out", str(n))
        cli, root, rec = self.cli, self.dfs, self.rec

        def run():
            with rec.span("cli.write"):
                name = cli.cmd_write(path, root=root)
            with rec.span("cli.mapreduce"):
                result = cli.cmd_mapreduce(self.mapper, self.reducer, name, root=root)
            with rec.span("cli.read_result"):
                result_path = cli.cmd_read(result, os.path.join(out, "result"), root=root)
            if not read_input:  # the same call as the READ above
                return result_path, None
            with rec.span("cli.read_input"):
                back_path = cli.cmd_read(name, os.path.join(out, "input"), root=root)
            return result_path, back_path

        def check(res):
            result_path, back_path = res
            with open(result_path) as fh:
                lines = fh.read().splitlines()
            self.output_lines.append(len(lines))
            with open(back_path, "rb") as fh:
                back = fh.read()
            with open(src, "rb") as fh:
                original = fh.read()
            return checks.check_mr(lines, self._counts(text_index), back, original)

        return f"text_{text_index}", run, check

    def _counts(self, i: int) -> dict:
        if i not in self.counts:
            with open(os.path.join(self.dir, f"counts_{i}.json")) as fh:
                self.counts[i] = json.load(fh)
        return self.counts[i]

    def warmup(self) -> None:
        self._op(0, read_input=False)[1]()

    def round(self, r: int) -> list:
        return [self._op(1 + r % self.N_TEXTS)]

    def corrupt(self, res):
        result_path, back_path = res
        bad = result_path + ".corrupt"
        with open(result_path) as fh:
            lines = fh.read().splitlines()
        word, _, count = lines[0].rpartition(",")
        lines[0] = f"{word},{int(count) + 1}"
        with open(bad, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return bad, back_path

    def layer_metrics(self) -> dict:
        m = {f"cli.{k}_s": self.rec.median(f"cli.{k}")
             for k in ("write", "mapreduce", "read_result", "read_input")}
        m["mr.output_lines"] = float(np.median(self.output_lines)) if self.output_lines else 0.0
        return m


# --------------------------------------------------------------------------

#: Registry queries of sql_mix: scan-aggregates, star joins, a big x big
#: join, windows, event sessionization, a range join and document-text
#: queries. Each passes its DuckDB oracle on the generated tables.
SQL_QUERIES = (
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q05_local_supplier",
    "q03_shipping_priority",
    "q18_large_orders",
    "q_topk_per_group",
    "q_event_sessionize",
    "q_join_range_bigbig",
    "ns_wordcount",
    "ns_fingerprint",
)

SQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")


class SqlMix(Workload):
    """Build and collect one registry query; each round runs every query
    of :data:`SQL_QUERIES` once, in an order drawn from the seed."""

    name = "sql_mix"
    ROUND_S = 5.0

    def prepare(self) -> None:
        import duckdb

        from map_reduce_framework_using_python_spark.plans import REGISTRY

        self.registry = REGISTRY
        base = os.path.join(self.cache, "sql", f"s{self.seed}-sf{self.sizes['sql_sf']}")
        self.tables = _cached(
            os.path.join(base, "tables"),
            lambda tmp: inputs.write_sql_tables(tmp, self.seed, self.sizes["sql_sf"]),
        )
        fp = hashlib.sha1()
        for t in SQL_TABLES:
            st = os.stat(os.path.join(self.tables, f"{t}.parquet"))
            fp.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        con = None
        self.expected = {}
        for q in SQL_QUERIES:
            oracle = REGISTRY[q].oracle
            sql_hash = hashlib.sha1(oracle.encode()).hexdigest()[:12]
            path = os.path.join(base, "refs", f"{q}-{sql_hash}-{fp.hexdigest()[:12]}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for t in SQL_TABLES:
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.tables}/{t}.parquet')")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path + ".tmp", "w") as fh:
                    json.dump(checks.duckdb_reference(con, oracle), fh)
                os.replace(path + ".tmp", path)
            with open(path) as fh:
                self.expected[q] = json.load(fh)
        if con is not None:
            con.close()
        self.rows_out = 0

    def _op(self, q: str):
        fn, spark, tables, rec = self.registry[q].fn, self.spark, self.tables, self.rec

        def run():
            with rec.span("plans.build"):
                df = fn(spark, tables)
            with rec.span("plans.exec"):
                rows = df.collect()
            return df.columns, rows

        def check(res):
            self.rows_out += len(res[1])
            return checks.check_sql(res[0], res[1], self.expected[q])

        return q, run, check

    def warmup(self) -> None:
        for q in SQL_QUERIES:
            self._op(q)[1]()

    def round(self, r: int) -> list:
        order = np.random.default_rng([self.seed, 4, r]).permutation(len(SQL_QUERIES))
        self.rounds = r + 1
        return [self._op(SQL_QUERIES[i]) for i in order]

    def corrupt(self, res):
        return res[0], res[1][1:]

    def layer_metrics(self) -> dict:
        return {
            "plans.build_s": self.rec.median("plans.build"),
            "plans.exec_s": self.rec.median("plans.exec"),
            "plans.rows_out": self.rows_out / max(1, getattr(self, "rounds", 1)),
        }


# --------------------------------------------------------------------------


class Ingest(Workload):
    """One arriving batch of documents with embeddings: near-dup screen
    of its texts against the MinHash index and nearest-neighbour probe of
    its vectors against the IVF index, then append the batch to both."""

    name = "ingest"
    ROUND_S = 7.5
    N_BATCHES = 12
    K = 10
    N_PROBE = 4
    THRESHOLD = 0.6
    #: Lowest mean recall@10 per batch accepted against brute force.
    RECALL_FLOOR = 0.9

    def prepare(self) -> None:
        n, b = self.sizes["n_corpus"], self.sizes["batch"]
        key = f"s{self.seed}-c{n}-b{b}-n{self.N_BATCHES}"
        self.dir = _cached(os.path.join(self.cache, "ingest", key), self._build_inputs)
        table = pq.read_table(os.path.join(self.dir, "corpus.parquet"))
        texts = table.column("text").to_pylist()
        vecs = [np.asarray(table.column("embedding").to_pylist(), np.float32)]
        self.batch_ids = []
        for i in range(self.N_BATCHES):
            t = pq.read_table(self._batch_path(i))
            ids = t.column("doc_id").to_pylist()
            self.batch_ids.append(ids)
            texts += t.column("text").to_pylist()
            vecs.append(np.asarray(t.column("embedding").to_pylist(), np.float32))
        self.texts, self.vecs = texts, np.concatenate(vecs)
        with open(os.path.join(self.dir, "planted.json")) as fh:
            self.planted = json.load(fh)
        self.topk = np.load(os.path.join(self.dir, "topk.npy"))
        self.pairs_out = []
        self.recalls = []

    def _batch_path(self, i: int) -> str:
        return os.path.join(self.dir, f"batch_{i:03d}.parquet")

    def _build_inputs(self, tmp: str) -> None:
        data = inputs.ingest_inputs(self.seed, self.sizes["n_corpus"], self.N_BATCHES,
                                    self.sizes["batch"])

        def write(part, path):
            pq.write_table(pa.table({
                "doc_id": pa.array(part["ids"], pa.int64()),
                "text": part["texts"],
                "vec_id": pa.array(part["ids"], pa.int64()),
                "embedding": pa.array(list(part["vecs"]), pa.list_(pa.float32())),
                "label": pa.array(part["labels"], pa.int32()),
            }), path)

        write(data["corpus"], os.path.join(tmp, "corpus.parquet"))
        index = [data["corpus"]["vecs"]]
        topk = []
        for i, part in enumerate(data["batches"]):
            write(part, os.path.join(tmp, f"batch_{i:03d}.parquet"))
            topk.append(checks.cosine_topk(np.concatenate(index), part["vecs"], self.K))
            index.append(part["vecs"])
        np.save(os.path.join(tmp, "topk.npy"), np.stack(topk))
        with open(os.path.join(tmp, "planted.json"), "w") as fh:
            json.dump([{k: part[k] for k in ("exact", "near", "vec_copies")}
                       for part in data["batches"]], fh)

    def setup(self, spark) -> None:
        super().setup(spark)
        from map_reduce_framework_using_python_spark.operators import ann_index, dedup_index

        self.dedup, self.ann = dedup_index, ann_index
        self.mh = os.path.join(self.state, "minhash")
        self.ivf = os.path.join(self.state, "ivf")
        corpus = spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))
        with self.rec.span("dedup_index.build"):
            dedup_index.build_minhash_index(corpus.select("doc_id", "text"), self.mh)
        with self.rec.span("ann_index.build"):
            ann_index.build_ivf_index(corpus.select("vec_id", "embedding", "label"), self.ivf)

    def _op(self, b: int):
        spark, rec, dedup, ann = self.spark, self.rec, self.dedup, self.ann
        seen = [os.path.join(self.dir, "corpus.parquet")] + [self._batch_path(i) for i in range(b)]
        path = self._batch_path(b)

        def run():
            batch = spark.read.parquet(path)
            docs = batch.select("doc_id", "text")
            vecs = batch.select("vec_id", "embedding", "label")
            corpus = spark.read.parquet(*seen).select("doc_id", "text")
            with rec.span("dedup_index.screen"):
                pairs = dedup.incremental_dedup_pairs(
                    spark, docs, corpus, self.mh, threshold=self.THRESHOLD).collect()
            with rec.span("dedup_index.append"):
                dedup.append_to_index(docs, self.mh)
            with rec.span("ann_index.probe"):
                hits = ann.ivf_probe_index_batch(
                    spark, vecs, self.ivf, k=self.K, n_probe=self.N_PROBE).collect()
            with rec.span("ann_index.append"):
                ann.append_to_ivf_index(vecs, self.ivf)
            return ([(p.batch_doc, p.corpus_doc, p.jaccard) for p in pairs],
                    [(h.q_id, h.vec_id, h.cosine, h.rn) for h in hits])

        def check(res):
            pairs, hits = res
            self.pairs_out.append(len(pairs))
            ids = self.batch_ids[b]
            planted = self.planted[b]
            problems = checks.check_dedup(
                pairs, self.texts.__getitem__, set(ids),
                planted["exact"] + planted["near"], self.THRESHOLD)
            truth = {q: set(self.topk[b][j].tolist()) for j, q in enumerate(ids)}
            ann_problems, recall = checks.check_ann(
                hits, self.vecs.__getitem__, {q: self.vecs[q] for q in ids}, truth,
                dict(map(tuple, planted["vec_copies"])), self.K, self.RECALL_FLOOR)
            self.recalls.append(recall)
            return problems + ann_problems

        return f"batch_{b:03d}", run, check

    def warmup(self) -> None:
        self._op(0)[1]()

    def round(self, r: int) -> list:
        if r + 1 >= self.N_BATCHES:
            raise RuntimeError("ingest ran out of generated batches")
        return [self._op(r + 1)]

    def corrupt(self, res):
        pairs, hits = res
        q_id, vec_id, cos, rn = hits[0]
        return pairs, [(q_id, vec_id, cos - 0.01, rn)] + hits[1:]

    def layer_metrics(self) -> dict:
        m = {f"{layer}.{k}_s": self.rec.median(f"{layer}.{k}")
             for layer, keys in (("dedup_index", ("screen", "append")),
                                 ("ann_index", ("probe", "append")))
             for k in keys}
        m["dedup_index.build_s"] = self.rec.first("dedup_index.build")
        m["ann_index.build_s"] = self.rec.first("ann_index.build")
        m["dedup_index.pairs_out"] = float(np.median(self.pairs_out)) if self.pairs_out else 0.0
        m["dedup_index.files"] = float(_parquet_files(self.mh))
        m["ann_index.files"] = float(_parquet_files(self.ivf))
        m["ann_index.recall"] = float(np.mean(self.recalls)) if self.recalls else 0.0
        return m


WORKLOADS = {w.name: w for w in (MrJobs, SqlMix, Ingest)}
