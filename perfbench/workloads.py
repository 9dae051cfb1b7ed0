"""The closed-loop workloads. Each has a ``setup`` (timed as
``setup_s``, ending with one untimed warm-up request of each type) and
a ``loop`` that sends requests through the single client until the
deadline. Every reply is checked against ground truth computed here in
numpy from the generated arrays, never through the engine."""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

N_BUCKETS = 16  # fixed: sizes must not depend on the host's core count

# full size and the toy size of the smoke test
SIZES = {
    "full": {"frame_rows": 100_000, "cur_runs": 4, "cur_run_rows": 9_000,
             "append_rows": 2_000, "max_appends": 24},
    "smoke": {"frame_rows": 4_000, "cur_runs": 3, "cur_run_rows": 400,
              "append_rows": 100, "max_appends": 400},
}

_CHECKSUM_DDL = "rows long, tokens long, sum long, wsum long, bad_ntok long"


def _consume(batches):
    """The Python-side consumer of a full read (a training loader's
    stand-in): per partition, the checksum of every batch's flat token
    values and row lengths, plus rows whose n_tok disagrees with their
    token count."""
    import pyarrow as pa

    from perfbench.gen import MASK64, add_checksums, checksum

    acc = {"rows": 0, "tokens": 0, "sum": 0, "wsum": 0}
    bad = 0
    for b in batches:
        col = b.column(b.schema.get_field_index("tokens"))
        offsets = col.offsets.to_numpy()
        acc = add_checksums(acc, checksum(col.flatten().to_numpy(), offsets))
        n_tok = b.column(b.schema.get_field_index("n_tok")).to_numpy()
        bad += int((n_tok != np.diff(offsets)).sum())

    def signed(x):
        x &= MASK64
        return x - (1 << 64) if x >= 1 << 63 else x

    yield pa.RecordBatch.from_pylist([{
        "rows": acc["rows"], "tokens": acc["tokens"], "sum": signed(acc["sum"]),
        "wsum": signed(acc["wsum"]), "bad_ntok": bad}])


def read_checksum(spark, path: str, tracer) -> dict:
    """Full read into the Python consumer; returns the table checksum."""
    from tokcodec import read_encoded

    with tracer.span("read.plan"):
        df = read_encoded(spark, path)
    with tracer.span("read.decode_consume"):
        parts = df.mapInArrow(_consume, _CHECKSUM_DDL).collect()
    out = {"rows": 0, "tokens": 0, "sum": 0, "wsum": 0}
    bad = 0
    for p in parts:
        out = gen.add_checksums(out, {"rows": p.rows, "tokens": p.tokens,
                                      "sum": p.sum & gen.MASK64,
                                      "wsum": p.wsum & gen.MASK64})
        bad += p.bad_ntok
    out["bad_ntok"] = bad
    return out


def _matches(got: dict, truth: dict) -> bool:
    return got.get("bad_ntok", 0) == 0 and all(got[k] == truth[k] for k in truth)


def _frame(spark, rows: gen.Rows, cpus: int):
    from tokcodec import SEQ_SCHEMA

    df = spark.createDataFrame(rows.arrow(), schema=SEQ_SCHEMA)
    df = df.repartition(2 * cpus).cache()
    df.count()
    return df


def _parquet_bytes(rows: gen.Rows, path: str) -> int:
    """Size of ``rows`` as one snappy Parquet file written by pyarrow:
    a reference that depends on neither Spark's partitioning nor the
    host's core count."""
    pq.write_table(rows.arrow(), path, compression="snappy")
    n = os.path.getsize(path)
    os.remove(path)
    return n


class Workload:
    """Shared state: the session, client, tracer, sizes and seed."""

    name = ""
    nominal_cycle_s = 1.0  # sets the cycle count per --seconds

    def __init__(self, spark, client, work: str, seed: int, size: dict, cpus: int):
        self.spark = spark
        self.client = client
        self.work = work
        self.seed = seed
        self.size = size
        self.cpus = cpus
        self.size_vs_parquet = None
        # what the per-layer suite runs on (set by setup)
        self.frame_df = None
        self.frame_rows = None
        self.table = None
        self.setup_stages: dict[str, float] = {}

    def frame(self):
        """The cached frame of the workload's setup rows (built on
        first use; the per-layer suite's write chain runs on it)."""
        if self.frame_df is None:
            self.frame_df = _frame(self.spark, self.frame_rows, self.cpus)
        return self.frame_df

    @property
    def tracer(self):
        return self.client.tracer

    @contextlib.contextmanager
    def stage(self, name: str):
        """Times one step of setup into ``setup_stages``."""
        t0 = time.perf_counter()
        yield
        self.setup_stages[name] = self.setup_stages.get(name, 0.0) + time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def corrupt_truth(self) -> None:
        """Perturb the expected results (the checker's own test)."""
        self.truth["sum"] += 1

    def step(self, timed: bool = True) -> None:
        """Send one cycle of the workload's requests."""
        raise NotImplementedError

    def loop(self, seconds: float, clients=None) -> list[float]:
        """Closed loop over a fixed number of request cycles: ``seconds``
        divided by the workload's nominal cycle time, at least one per
        client. The count does not depend on how fast the host is right
        now; a run that stops on the clock instead sends more, and
        warmer, cycles on a fast host, which spread the medians by up to
        ~25% between runs. With several ``clients`` the cycles alternate
        between them (a traced and an untraced one, so both see the same
        warm-up). Returns the wall seconds spent on each client."""
        clients = clients or [self.client]
        walls = [0.0] * len(clients)
        n = max(len(clients), round(seconds / self.nominal_cycle_s))
        for i in range(n):
            self.client = clients[i % len(clients)]
            t0 = time.perf_counter()
            self.step()
            walls[i % len(clients)] += time.perf_counter() - t0
        return walls


class Bulk(Workload):
    """Bulk ingest, then stream the table back: each cycle writes the
    cached frame into a fresh path with write_encoded and reads the
    whole table back into a Python consumer (a training loader's
    stand-in). The consumer's checksum is the check for both."""

    name = "bulk"
    nominal_cycle_s = 3.3  # a 100k-row write + read on a 4-core VM

    def setup(self):
        with self.stage("generate"):
            rows = gen.generate(self.size["frame_rows"], self.seed)
            self.frame_rows = rows
            self.truth = rows.checksum()
        with self.stage("frame"):
            self.frame_df = _frame(self.spark, rows, self.cpus)
        self.i = 0
        # two untimed cycles: after one, the first timed cycle still
        # ran ~20% slow (JIT and worker warm-up)
        with self.stage("warm_cycles"):
            self.step(timed=False)
            path = self.cycle(timed=False)
        with self.stage("parquet_ref"):
            from tokcodec import encoded_size_bytes

            self.size_vs_parquet = encoded_size_bytes(path) / _parquet_bytes(
                rows, os.path.join(self.work, "ref.parquet"))
        shutil.rmtree(path)

    def cycle(self, timed=True) -> str:
        from tokcodec import write_encoded

        self.i += 1
        path = os.path.join(self.work, "bulk", f"w{self.i}")
        n, n_tok = self.frame_rows.n_rows, self.frame_rows.n_tokens

        def write():
            with self.tracer.span("write.write_encoded"):
                return write_encoded(self.frame_df, path, n_buckets=N_BUCKETS)

        self.client.request("write", write, lambda r: r["rows"] == n,
                            tokens=n_tok, timed=timed)
        self.client.request("read", lambda: read_checksum(self.spark, path, self.tracer),
                            lambda got: _matches(got, self.truth),
                            tokens=n_tok, timed=timed)
        return path

    def step(self, timed: bool = True):
        path = self.cycle(timed)
        with self.tracer.span("cleanup"):
            shutil.rmtree(path, ignore_errors=True)


# the fixed request sequence of one curation cycle: the first aggregate
# after an append is cold, the one right after it warm
CYCLE = ("append", "lookup_hit", "scan_tail", "agg", "agg", "count",
         "append", "lookup_miss", "scan_head", "scan_absent")


class CurationMix(Workload):
    """Removal-list lookups, contamination scans, corpus statistics and
    small appends against a many-run table with bloom filters."""

    name = "curation_mix"
    nominal_cycle_s = 12.0  # the ten requests of CYCLE on a 4-core VM

    def setup(self):
        from tokcodec import SEQ_SCHEMA, encoded_size_bytes, write_encoded

        s = self.size
        n_setup = s["cur_runs"] * s["cur_run_rows"]
        with self.stage("generate"):
            pool = gen.generate(n_setup + s["max_appends"] * s["append_rows"], self.seed)
        self.pool = pool
        self.frame_rows = pool.slice(0, n_setup)
        self.table = os.path.join(self.work, "curation")
        self.epoch = 0
        self.n_cur = 0
        with self.stage("runs_write"):
            for k in range(s["cur_runs"]):
                lo = k * s["cur_run_rows"]
                df = self.spark.createDataFrame(
                    pool.slice(lo, lo + s["cur_run_rows"]).arrow(), schema=SEQ_SCHEMA)
                self.epoch += 1
                write_encoded(df, self.table, n_buckets=N_BUCKETS, epoch=self.epoch,
                              bloom_columns=["doc_id", "tokens"])
                self.n_cur = lo + s["cur_run_rows"]
        with self.stage("parquet_ref"):
            self.size_vs_parquet = encoded_size_bytes(self.table) / _parquet_bytes(
                self.frame_rows, os.path.join(self.work, "ref.parquet"))
        with self.stage("truth"):
            self._plan_requests()
        # one untimed cycle warms plans, workers and caches: after only
        # one request of each type, the first timed cycle still ran
        # ~20-40% slow
        with self.stage("warm_cycle"):
            self.step(timed=False)

    def _plan_requests(self):
        """Seeded request keys and their ground truth."""
        pool = self.pool
        rng = np.random.default_rng(self.seed + 1)
        self.rng = rng
        # scan tokens: the head id, rare ids that occur, and an id
        # outside the vocabulary (absent unless a pinned edge row has it)
        counts = np.bincount(pool.flat[pool.flat < gen.VOCAB], minlength=gen.VOCAB)
        present = np.flatnonzero(counts)
        rare = present[np.argsort(counts[present], kind="stable")[:200]]
        self.scan_tokens = {
            "scan_head": [int(np.argmax(counts))],
            "scan_tail": [int(t) for t in rng.choice(rare, 8, replace=False)],
            "scan_absent": [gen.VOCAB + 17],
        }
        # ground truth per scan token: the pool rows containing it, so
        # the expected count for the current table is one searchsorted
        self.rows_with = {}
        for toks in self.scan_tokens.values():
            for t in toks:
                at = np.flatnonzero(pool.flat == t)
                self.rows_with[t] = np.unique(
                    np.searchsorted(pool.offsets, at, side="right") - 1)
        self.turn = {k: 0 for k in ("scan_head", "scan_tail", "scan_absent", "miss")}
        self.agg_ranges = [(int(lo), int(lo + w)) for lo, w in zip(
            rng.integers(20, 200, 16), rng.integers(100, 2000, 16))]
        self.pos = 0
        self.offset = 0  # added to expected results by corrupt_truth

    def corrupt_truth(self):
        self.offset = 1

    # ---------------------------------------------------------- requests
    def request(self, kind: str, timed: bool = True):
        from tokcodec import (SEQ_SCHEMA, aggregate_encoded, count_encoded,
                              read_encoded, write_encoded)

        spark, table, tr = self.spark, self.table, self.tracer
        n = self.n_cur
        off = self.offset
        if kind == "append":
            a = self.size["append_rows"]
            if n + a > self.pool.n_rows:
                raise RuntimeError("append pool exhausted; raise max_appends")
            part = self.pool.slice(n, n + a)
            epoch = self.epoch + 1

            def call():
                with tr.span("append.createDataFrame"):
                    df = spark.createDataFrame(part.arrow(), schema=SEQ_SCHEMA)
                with tr.span("write.write_encoded"):
                    return write_encoded(df, table, n_buckets=N_BUCKETS, epoch=epoch)

            r = self.client.request("append", call, lambda r: r["rows"] == n + a + off,
                                    tokens=part.n_tokens, timed=timed)
            if r is not None and r.get("rows") == n + a:
                self.n_cur, self.epoch = n + a, epoch
        elif kind == "agg":
            lo, hi = self.agg_ranges[self.pos % len(self.agg_ranges)]
            v = self.pool.n_tok[:n]
            v = v[(v >= lo) & (v <= hi)]
            want = {"rows": len(v) + off, "sum": int(v.sum()) if len(v) else None,
                    "min": int(v.min()) if len(v) else None,
                    "max": int(v.max()) if len(v) else None}

            def call():
                with tr.span("agg.aggregate_encoded"):
                    return aggregate_encoded(spark, table, "n_tok",
                                             range_filter=("n_tok", lo, hi))

            self.client.request("agg", call,
                                lambda r: all(r[k] == want[k] for k in want), timed=timed)
        elif kind == "count":
            def call():
                with tr.span("meta.count_encoded"):
                    return count_encoded(spark, table)

            self.client.request("count", call, lambda c: c == n + off, timed=timed)
        elif kind.startswith("lookup"):
            if kind == "lookup_hit":
                i = int(self.rng.integers(0, n))
                key, want = self.pool.doc_id[i], [(self.pool.doc_id[i], int(self.pool.n_tok[i]))]
            else:
                self.turn["miss"] += 1
                idx = np.array([self.pool.n_rows + self.turn["miss"]])
                key, want = gen.doc_ids(gen.SOURCES[:1], idx, self.seed)[0], []

            def call():
                with tr.span("read.plan"):
                    df = read_encoded(spark, table, columns=["doc_id", "n_tok"],
                                      eq_filter=("doc_id", str(key)))
                with tr.span("read.decode_collect"):
                    return [(r.doc_id, r.n_tok) for r in df.collect()]

            self.client.request("lookup", call, lambda got: got == want and not off,
                                tokens=sum(w[1] for w in want), timed=timed)
        else:  # scan_head / scan_tail / scan_absent
            toks = self.scan_tokens[kind]
            t = toks[self.turn[kind] % len(toks)]
            self.turn[kind] += 1
            want = int(np.searchsorted(self.rows_with[t], n)) + off

            def call():
                with tr.span("read.plan"):
                    df = read_encoded(spark, table, columns=["doc_id"],
                                      contains_filter=("tokens", t))
                with tr.span("read.decode_count"):
                    return df.count()

            self.client.request("scan", call, lambda c: c == want, timed=timed)

    def step(self, timed: bool = True):
        # whole cycles, so every run sees the same request mix
        for kind in CYCLE:
            self.request(kind, timed=timed)
        self.pos += 1


WORKLOADS = {w.name: w for w in (Bulk, CurationMix)}
