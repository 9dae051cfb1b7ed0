"""Per-layer measurements of the traced run. Each layer is measured from
outside: by timing its public calls on the workload's own generated
data, or by reading counts the engine already reports (lineage, block
files, ``explain_scan``, ``aggregate_encoded``'s telemetry). Every
traced run reports the same metric names, whatever its workload."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

from perfbench import gen
from perfbench.workloads import N_BUCKETS, read_checksum

INT_CODECS = ("plain", "bitpack", "for", "delta", "rle", "dict")
STR_CODECS = ("plain_str", "dict_str", "fsst")
CHUNK_CODECS = INT_CODECS + STR_CODECS
REQUESTS = ("write", "read", "lookup", "scan", "agg", "count", "append")
REPS = 5


def _median_time(fn, reps: int = REPS, budget_s: float = 0.3) -> float:
    """Median seconds of up to ``reps`` calls of ``fn`` after one warm
    call, stopping early once ``budget_s`` is spent (slow kernels)."""
    fn()
    ts = []
    while len(ts) < reps and sum(ts) < budget_s:
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def metric_names() -> list[str]:
    names = []
    for c in INT_CODECS:
        names += [f"codecs.int.{c}.encode_mb_s", f"codecs.int.{c}.decode_mb_s"]
    for c in STR_CODECS:
        short = c.replace("_str", "")
        names += [f"codecs.str.{short}.encode_mb_s", f"codecs.str.{short}.decode_mb_s"]
    names += ["blocks.int_component.encode_mb_s", "blocks.int_component.decode_mb_s",
              "selector.int_us_per_chunk", "selector.str_us_per_chunk"]
    names += [f"selector.chunks.{c}" for c in CHUNK_CODECS] + ["selector.chunks.other"]
    names += ["encode.bucket_tok_per_s_core", "decode.bucket_tok_per_s_core",
              "bloom.tokens_build_ms_per_chunk", "bloom.doc_id_build_ms_per_chunk",
              "write.exchange_s", "write.encode_s", "write.total_s",
              "write.persist_commit_s", "write.task_encode_ms_sum", "write.fixed_ms",
              "write.files",
              "read.plan_ms.full", "read.plan_ms.lookup", "read.plan_ms.scan",
              "read.count_s", "read.consume_s"]
    for q in ("lookup", "scan"):
        names += [f"prune.{q}.chunks_scanned", f"prune.{q}.chunks_total",
                  f"prune.{q}.rows_out_per_row_scanned"]
    names += ["agg.cold_ms", "agg.warm_ms", "agg.chunks_meta", "agg.chunks_decoded",
              "meta.runs", "meta.lineage_rows", "meta.files"]
    for q in REQUESTS:
        names += [f"spark.jobs.{q}", f"spark.tasks.{q}"]
    names += ["host.memcpy_gbps", "trace.overhead_ratio", "trace.coverage"]
    return names


# ------------------------------------------------------ in-process layers
def kernel_layers(rows: gen.Rows) -> dict:
    """codecs, blocks, selector, bloom, encode and decode: no Spark."""
    from tokcodec import SEQ_SCHEMA
    from tokcodec.blocks import decode_int_component, encode_int_component
    from tokcodec.bloom import bloom_block_row, bloom_block_row_elements
    from tokcodec.codecs.fsst import fsst_decode, fsst_encode
    from tokcodec.codecs.intcodecs import decode_ints, encode_ints
    from tokcodec.codecs.strcodecs import STR_CODECS as STR_FNS
    from tokcodec.codecs.strcodecs import arrow_to_strchunk
    from tokcodec.decode import make_decode_fn
    from tokcodec.encode import CHUNK_MAX_ROWS, CHUNK_MAX_VALUES, make_encode_fn
    from tokcodec.selector import select_int_codec, select_str_codec

    out = {}
    n = CHUNK_MAX_ROWS
    # one 65,536-value int chunk of typical tokens (after the pinned
    # edge rows) and one 65,536-row string chunk of doc_ids
    start = int(rows.offsets[5])
    v = np.ascontiguousarray(rows.flat[start:start + n])
    mb = v.nbytes / 1e6
    for c in INT_CODECS:
        payload, meta = encode_ints(v, c)
        back = decode_ints(payload, c, meta, len(v), out_dtype=np.int32)
        if not np.array_equal(back, v):
            raise AssertionError(f"int codec {c} did not round-trip")
        out[f"codecs.int.{c}.encode_mb_s"] = mb / _median_time(lambda: encode_ints(v, c))
        out[f"codecs.int.{c}.decode_mb_s"] = mb / _median_time(
            lambda: decode_ints(payload, c, meta, len(v), out_dtype=np.int32))
    sarr = pa.array(rows.doc_id[:n], pa.string())
    data, lengths = arrow_to_strchunk(sarr)
    smb = len(data) / 1e6
    fns = dict(STR_FNS, fsst=(fsst_encode, fsst_decode))
    for c in STR_CODECS:
        enc, dec = fns[c]
        payload, meta = enc(data, lengths)
        bdata, blens = dec(payload, meta, len(lengths))[:2]
        if bytes(bdata) != bytes(data) or not np.array_equal(blens, lengths):
            raise AssertionError(f"string codec {c} did not round-trip")
        short = c.replace("_str", "")
        out[f"codecs.str.{short}.encode_mb_s"] = smb / _median_time(lambda: enc(data, lengths))
        out[f"codecs.str.{short}.decode_mb_s"] = smb / _median_time(
            lambda: dec(payload, meta, len(lengths)))

    row = encode_int_component(0, "tokens", "values", v, 4)
    out["blocks.int_component.encode_mb_s"] = mb / _median_time(
        lambda: encode_int_component(0, "tokens", "values", v, 4))
    out["blocks.int_component.decode_mb_s"] = mb / _median_time(
        lambda: decode_int_component(row, np.int32))
    out["selector.int_us_per_chunk"] = 1e6 * _median_time(lambda: select_int_codec(v, 4))
    out["selector.str_us_per_chunk"] = 1e6 * _median_time(
        lambda: select_str_codec(data, lengths, sarr))

    # bloom: over one engine-sized chunk (row and value caps)
    k = int(min(n, np.searchsorted(rows.offsets, CHUNK_MAX_VALUES, side="right") - 1))
    chunk = rows.slice(0, k).arrow()
    out["bloom.tokens_build_ms_per_chunk"] = 1e3 * _median_time(
        lambda: bloom_block_row_elements(0, "tokens", chunk.column("tokens").combine_chunks()), 3)
    out["bloom.doc_id_build_ms_per_chunk"] = 1e3 * _median_time(
        lambda: bloom_block_row(0, "doc_id", chunk.column("doc_id").combine_chunks()), 3)

    # one bucket's worth of rows (1/16 of the frame) through the
    # executor-side encode and decode functions, in this process
    b = rows.slice(0, max(1, rows.n_rows // N_BUCKETS))
    bt = b.arrow()
    encode = make_encode_fn(SEQ_SCHEMA, "perfbench")
    decode = make_decode_fn(SEQ_SCHEMA)
    blocks = encode((0,), bt)
    decoded = decode((0,), blocks)
    col = decoded.column("tokens").combine_chunks()
    if gen.checksum(col.flatten().to_numpy(), col.offsets.to_numpy()) != b.checksum():
        raise AssertionError("bucket encode/decode did not round-trip")
    out["encode.bucket_tok_per_s_core"] = b.n_tokens / _median_time(
        lambda: encode((0,), bt), 3)
    out["decode.bucket_tok_per_s_core"] = b.n_tokens / _median_time(
        lambda: decode((0,), blocks), 3)
    return out


# ----------------------------------------------------------- Spark layers
def _passthrough(batches):
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pylist([{"n": n}])


def _chunk_codecs(table: str) -> dict:
    """Codec of every data block the table's files hold (one per
    chunk and component), from the block files' ``codec`` column."""
    import pyarrow.dataset as ds

    counts = {c: 0 for c in CHUNK_CODECS}
    counts["other"] = 0
    blocks = ds.dataset(os.path.join(table, "blocks"), format="parquet",
                        exclude_invalid_files=True)
    t = blocks.to_table(columns=["column", "component", "codec"])
    # data blocks only: not the per-bucket metrics rows or bloom filters
    keep = pa.compute.and_(
        pa.compute.invert(pa.compute.starts_with(t.column("column"), "__")),
        pa.compute.not_equal(t.column("component"), "bloom"))
    vc = pa.compute.value_counts(t.column("codec").filter(keep))
    for item in vc.to_pylist():
        name = item["values"]
        counts[name if name in counts else "other"] += item["counts"]
    return {f"selector.chunks.{c}": n for c, n in counts.items()}


def write_layers(spark, client, df, work: str) -> tuple[dict, str]:
    """The write path as a prefix chain on the workload's frame:
    bucket + exchange + sort + passthrough, then the same plus
    encoding (blocks discarded), then the whole write_encoded."""
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from tokcodec import SEQ_SCHEMA, write_encoded
    from tokcodec.encode import BUCKET_COL, make_encode_sorted_fn, with_bucket

    out = {}
    # the task-count rule of io_tables._write_run
    n_tasks = max(1, min(N_BUCKETS, spark.sparkContext.defaultParallelism * 2))
    sorted_b = (with_bucket(df, N_BUCKETS)
                .repartition(n_tasks, F.col(BUCKET_COL))
                .sortWithinPartitions(BUCKET_COL))
    enc = make_encode_sorted_fn(SEQ_SCHEMA, "perfbench")

    def encode_discard(batches):
        import pyarrow as pa

        n = 0
        for b in enc(batches):
            n += b.num_rows
        yield pa.RecordBatch.from_pylist([{"n": n}])

    _, out["write.exchange_s"] = _timed(lambda: sorted_b.mapInArrow(_passthrough, "n long").collect())
    _, out["write.encode_s"] = _timed(lambda: sorted_b.mapInArrow(encode_discard, "n long").collect())
    path = os.path.join(work, "suite_write")
    r, out["write.total_s"] = _timed(lambda: client.request(
        "write", lambda: write_encoded(df, path, n_buckets=N_BUCKETS)))
    out["write.persist_commit_s"] = out["write.total_s"] - out["write.encode_s"]
    out["write.files"] = r["files"]
    lin = ds.dataset(os.path.join(path, "lineage"), format="parquet").to_table(
        columns=["run_id", "wall_ms"]).to_pandas()
    out["write.task_encode_ms_sum"] = float(lin.wall_ms[lin.run_id == r["run_id"]].sum())
    small = os.path.join(work, "suite_fixed")
    _, dt = _timed(lambda: write_encoded(df.limit(16), small, n_buckets=N_BUCKETS))
    out["write.fixed_ms"] = 1e3 * dt
    shutil.rmtree(small, ignore_errors=True)
    return out, path


def read_layers(spark, client, table: str, rows: gen.Rows, tracer) -> dict:
    """Planning, pruning, the aggregate metadata cache, the metadata
    layer and per-request Spark job/task counts, on ``table``."""
    from tokcodec import (SEQ_SCHEMA, aggregate_encoded, count_encoded, explain_scan,
                          read_encoded, write_encoded)
    from tokcodec.agg import clear_meta_cache

    out = {}
    key = str(rows.doc_id[rows.n_rows // 2])
    counts = np.bincount(rows.flat[rows.flat < gen.VOCAB], minlength=gen.VOCAB)
    present = np.flatnonzero(counts)
    tail = int(present[np.argmin(counts[present])])  # the rarest token
    lookup = {"eq_filter": ("doc_id", key)}
    scan = {"contains_filter": ("tokens", tail)}

    for q, kw in (("full", {}), ("lookup", lookup), ("scan", scan)):
        out[f"read.plan_ms.{q}"] = 1e3 * _median_time(
            lambda: read_encoded(spark, table, **kw), 3, budget_s=2.0)
    _, out["read.count_s"] = _timed(lambda: read_encoded(spark, table).count())
    # one request of each type under its own job group: exact counts
    _, full = _timed(lambda: client.request("read", lambda: read_checksum(spark, table, tracer)))
    out["read.consume_s"] = full - out["read.count_s"]
    n_lookup = client.request("lookup", lambda: read_encoded(spark, table, **lookup).count())
    n_scan = client.request("scan", lambda: read_encoded(spark, table, **scan).count())
    for q, n_out in (("lookup", n_lookup), ("scan", n_scan)):
        e = explain_scan(spark, table, **(lookup if q == "lookup" else scan))
        out[f"prune.{q}.chunks_scanned"] = e["chunks_scanned"]
        out[f"prune.{q}.chunks_total"] = e["chunks_total"]
        out[f"prune.{q}.rows_out_per_row_scanned"] = (n_out or 0) / max(1, e["rows_scanned"])

    agg = {"column": "n_tok", "range_filter": ("n_tok", 50, 500)}
    clear_meta_cache()
    res, dt = _timed(lambda: client.request("agg", lambda: aggregate_encoded(spark, table, **agg)))
    out["agg.cold_ms"] = 1e3 * dt
    out["agg.warm_ms"] = 1e3 * _median_time(
        lambda: aggregate_encoded(spark, table, **agg), 3, budget_s=2.0)
    out["agg.chunks_meta"] = res["chunks_meta"]
    out["agg.chunks_decoded"] = res["chunks_decoded"]
    client.request("count", lambda: count_encoded(spark, table))

    import pyarrow.dataset as ds

    out["meta.runs"] = len(os.listdir(os.path.join(table, "_runs")))
    out["meta.lineage_rows"] = ds.dataset(os.path.join(table, "lineage"),
                                          format="parquet").count_rows()
    out["meta.files"] = sum(len(f) for _, _, f in os.walk(table))
    out.update(_chunk_codecs(table))

    part = rows.slice(0, min(rows.n_rows, 2000))
    client.request("append", lambda: write_encoded(
        spark.createDataFrame(part.arrow(), schema=SEQ_SCHEMA), table,
        n_buckets=N_BUCKETS, epoch=10_000))
    return out
