"""The benchmark workloads.  A pass is one round of user-facing jobs over the
generated inputs; every result is written to parquet (or drained into a
streaming sink) so the whole plan runs, then checked on the driver.

Each pass has two timed phases, ``phase_a_s`` and ``phase_b_s``, reported
under workload-specific names in the run's detail line:

* ``crypto_sink``: encrypt-write both tables (a), read-decrypt both (b);
* ``operator_jobs``: corpus curation, i.e. the dedup chain to the kept set
  (a); iterative jobs, i.e. the PageRank loop and a streaming drain (b).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import SIZES, write_inputs

RECIPIENT = "perfbench_recipient"
IDENTITY = "perfbench_identity"


def _read(path: str) -> pa.Table:
    return pq.read_table(path)


def _digest(table: pa.Table, keys: list[str]) -> str:
    table = table.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for col in table.column_names:
        h.update(col.encode())
        h.update(repr(table.column(col).to_pylist()).encode())
    return h.hexdigest()[:16]


class Workload:
    """Inputs are generated once per run; ``run_pass`` executes one pass and
    returns its phase times and output digest; ``check`` validates a pass's
    outputs and returns the problems found."""

    name: str
    nominal_pass_s: float  # sets how many warm passes fit in --seconds

    def __init__(self, seed: int, work: str):
        self.work = work
        self.inputs = write_inputs(self.name, seed, os.path.join(work, "inputs"))
        self._pass = 0

    def out_dir(self) -> str:
        self._pass += 1
        prev = os.path.join(self.work, "out", f"pass{self._pass - 2}")
        shutil.rmtree(prev, ignore_errors=True)  # keep disk use to two passes
        path = os.path.join(self.work, "out", f"pass{self._pass}")
        os.makedirs(path, exist_ok=True)
        return path

    def input_sizes(self) -> dict:
        return dict(SIZES[self.name])

    def payload_sample(self, n: int) -> list[bytes]:
        raise NotImplementedError


def _write(df, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


# -- crypto_sink -------------------------------------------------------------


class CryptoSink(Workload):
    name = "crypto_sink"
    nominal_pass_s = 3.3
    tables = {"notes": ("note_id", "body", True), "attachments": ("att_id", "blob", False)}

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.plain = {t: _read(self.inputs[t]) for t in self.tables}
        self.plain_bytes = {
            t: int(pa.compute.sum(pa.compute.binary_length(self.plain[t].column(col))).as_py())
            for t, (_, col, _) in self.tables.items()
        }

    def run_pass(self, spark, tracer) -> dict:
        from duckdb_age_spark.sources.encrypted import read_encrypted, write_encrypted

        out = self.out_dir()
        res = {"out": out, "routes": {}}
        t0 = time.perf_counter()
        for t, (_, col, _) in self.tables.items():
            with tracer.span(f"sources.write_encrypted.{t}"):
                routes = write_encrypted(spark.read.parquet(self.inputs[t]), f"{out}/{t}_enc", [col], RECIPIENT)
                res["routes"][t] = routes[col]
        t1 = time.perf_counter()
        for t, (_, col, as_string) in self.tables.items():
            with tracer.span(f"sources.read_encrypted.{t}"):
                _write(read_encrypted(spark, f"{out}/{t}_enc", [col], IDENTITY, as_string=as_string), f"{out}/{t}_dec")
        t2 = time.perf_counter()
        res.update(phase_a_s=t1 - t0, phase_b_s=t2 - t1)
        res["stored_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for t in self.tables
            for d in [f"{out}/{t}_enc"]
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        return res

    def check(self, res: dict) -> tuple[list[str], str]:
        from duckdb_age_spark.crypto.format import ciphertext_length

        problems = []
        for t, (key, col, _) in self.tables.items():
            plain = self.plain[t].sort_by(key)
            dec = _read(f"{res['out']}/{t}_dec").sort_by(key)
            enc = _read(f"{res['out']}/{t}_enc").sort_by(key)
            if dec.num_rows != plain.num_rows or enc.num_rows != plain.num_rows:
                problems.append(f"{t}: {dec.num_rows}/{enc.num_rows} rows, expected {plain.num_rows}")
                continue
            got = dec.column(col)
            want = plain.column(col).cast(got.type)
            bad = int(pa.compute.sum(pa.compute.invert(pa.compute.equal(got, want))).as_py() or 0)
            if bad:
                problems.append(f"{t}: {bad} decrypted values differ from the plaintext")
            plain_len = pa.compute.binary_length(plain.column(col)).to_numpy()
            enc_len = pa.compute.binary_length(enc.column(col)).to_numpy()
            want_len = np.array([ciphertext_length(int(n), 1) for n in plain_len])
            if not np.array_equal(enc_len, want_len):
                problems.append(f"{t}: {int((enc_len != want_len).sum())} ciphertext lengths differ")
        # ciphertexts are fresh per pass, so the digest covers the plaintext side
        digest = hashlib.sha256(
            b"".join(_digest(_read(f"{res['out']}/{t}_dec"), [k]).encode() for t, (k, _, _) in self.tables.items())
        ).hexdigest()[:16]
        return problems, digest

    def payload_sample(self, n: int) -> list[bytes]:
        return [v.encode() for v in self.plain["notes"].column("body").to_pylist()[:n]]


# -- operator_jobs -----------------------------------------------------------


class OperatorJobs(Workload):
    """Corpus curation (a) then iterative jobs (b) over seeded documents, a
    power-law graph and an event file."""

    name = "operator_jobs"
    nominal_pass_s = 12.0

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs = _read(self.inputs["documents"])
        self.events = _read(f"{self.inputs['events']}/events.parquet").to_pandas()

    def run_pass(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from duckdb_age_spark import streaming
        from duckdb_age_spark.operators import dedup, graph

        out = self.out_dir()
        t0 = time.perf_counter()
        with tracer.span("dedup.drop_exact_dups"):
            _write(dedup.drop_exact_dups(spark.read.parquet(self.inputs["documents"])), f"{out}/exact_deduped")
        corpus = spark.read.parquet(f"{out}/exact_deduped")
        with tracer.span("dedup.minhash_lsh_pairs"):
            _write(dedup.minhash_lsh_pairs(corpus), f"{out}/pairs")
        pairs = spark.read.parquet(f"{out}/pairs")
        with tracer.span("dedup.connected_components"):
            clusters = dedup.connected_components(
                pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                corpus.select(F.col("doc_id").alias("id")),
            )
            _write(clusters, f"{out}/clusters")
        with tracer.span("dedup.keep_canonical"):
            kept = dedup.keep_canonical(
                spark.read.parquet(f"{out}/clusters").select(F.col("id").alias("doc_id"), "cluster_id")
            )
            _write(corpus.join(kept, "doc_id", "left_semi"), f"{out}/kept")
        t1 = time.perf_counter()
        with tracer.span("graph.pagerank_exact"):
            _write(graph.pagerank_exact(spark.read.parquet(self.inputs["edges"]), n_iter=3), f"{out}/pagerank")
        name = f"pb_windowed_counts_{self._pass}"
        d0 = time.perf_counter()
        with tracer.span("streaming.windowed_counts_stream"):
            events = streaming.stream_events(spark, self.inputs["events"])
            streaming.run_available_now(streaming.windowed_counts_stream(events), query_name=name)
        drain = time.perf_counter() - d0
        t2 = time.perf_counter()
        # the memory sink's rows are the drain's output
        spark.table(name).toPandas().to_parquet(f"{out}/windowed_counts.parquet")
        spark.catalog.dropTempView(name)
        return {"out": out, "phase_a_s": t1 - t0, "phase_b_s": t2 - t1, "drains_s": [drain]}

    def check(self, res: dict) -> tuple[list[str], str]:
        import pandas as pd

        out = res["out"]
        problems = []
        kept = _read(f"{out}/kept")
        md5s = [hashlib.md5(t.encode()).hexdigest() for t in kept.column("text").to_pylist()]
        if len(set(md5s)) != len(md5s):
            problems.append(f"{len(md5s) - len(set(md5s))} kept docs share an md5")
        # every kept doc must be the minimum id of its component in the pair graph
        deduped = _read(f"{out}/exact_deduped").column("doc_id").to_pylist()
        pairs = _read(f"{out}/pairs")
        labels = union_find(deduped, zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist()))
        clusters = _read(f"{out}/clusters")
        if dict(zip(clusters.column("id").to_pylist(), clusters.column("cluster_id").to_pylist())) != labels:
            problems.append("connected-components labels differ from a driver union-find")
        if sorted(kept.column("doc_id").to_pylist()) != sorted(set(labels.values())):
            problems.append("kept set differs from the component minima")
        got = pd.read_parquet(f"{out}/windowed_counts.parquet")
        if not _frames_equal(got, expected_windowed_counts(self.events), ["window_start", "event_type"]):
            problems.append("windowed counts drain differs from the batch result")
        digest = hashlib.sha256(
            "".join(
                [
                    _digest(kept.select(["doc_id"]), ["doc_id"]),
                    _digest(pairs, ["doc_a", "doc_b"]),
                    _digest(_read(f"{out}/pagerank"), ["node"]),
                ]
            ).encode()
        ).hexdigest()[:16]
        return problems, digest

    def quality(self, spark, res: dict) -> dict:
        """Output-quality ratios of a pass (traced runs only)."""
        from pyspark.sql import functions as F

        from duckdb_age_spark.operators import dedup

        out = res["out"]
        pairs = _read(f"{out}/pairs")
        cand = set(zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist()))
        similar = dedup.ngram_jaccard_pairs(
            spark.read.parquet(f"{out}/exact_deduped"), spark.read.parquet(f"{out}/pairs")
        ).where(F.col("jaccard") >= 0.5).count()
        planted = [tuple(sorted(p)) for p in self.inputs["planted_docs"]["near"].items()]
        return {
            "dedup.candidate_pairs": float(len(cand)),
            "dedup.pair_precision": similar / len(cand) if cand else 0.0,
            "dedup.planted_recall": sum(p in cand for p in planted) / len(planted) if planted else 0.0,
            "dedup.kept_docs": float(_read(f"{out}/kept").num_rows),
        }

    def payload_sample(self, n: int) -> list[bytes]:
        return [t.encode() for t in self.docs.column("text").to_pylist()[:n]]


def union_find(nodes, edges) -> dict[int, int]:
    """node -> minimum node id of its undirected component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _frames_equal(got, want, keys: list[str]) -> bool:
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(want.columns)
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        if g[c].dtype.kind == "f":
            if not np.allclose(g[c].to_numpy(), w[c].to_numpy(), rtol=0, atol=1e-6):
                return False
        elif not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
            return False
    return True


def expected_windowed_counts(ev):
    """Batch twin of ``windowed_counts_stream``: hourly tumbling windows."""
    df = ev.assign(window_start=ev["ts"].dt.floor("h"), cents=(ev["value"] * 100).round().astype("int64"))
    agg = df.groupby(["window_start", "event_type"], as_index=False).agg(
        n_events=("event_id", "size"), cents=("cents", "sum")
    )
    agg["total_value"] = agg["cents"] / 100.0
    return agg.drop(columns="cents")


WORKLOADS = {w.name: w for w in (CryptoSink, OperatorJobs)}
