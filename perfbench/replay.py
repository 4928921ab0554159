"""In-process replay of a sample of encode buckets, for the per-layer
selector, codec and catalog numbers.

The replay reads a bucket's row groups with pyarrow and calls the public
functions the encode job calls, in the job's order: per chunk and column
``selector.encode_best`` (with the job's per-bucket codec memo), then
``Manifest.write_chunk`` per column and ``Manifest.commit_bucket``, against
a throwaway store. Around that it times the selector's stats pass, the
winning codec alone and its decode. The replay's payload bytes must equal
the ``bytes_out`` the real job returned for the same bucket and column;
that proves it timed the same code path.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq

from flowforge import catalog, engine, selector
from flowforge.codecs import chunk


def replay_buckets(tracer, plan: list[dict], buckets: list[int], chunk_rows: int,
                   job_bytes_out: dict[tuple[int, str], int], out_dir: str
                   ) -> list[str]:
    """Replay ``buckets`` of ``plan`` into ``out_dir``; returns the
    cross-check mismatches (empty when every column's bytes agree)."""
    manifest = catalog.Manifest(out_dir)
    mismatches = []
    for b in buckets:
        p = plan[b]
        tbl = pq.ParquetFile(p["file"]).read_row_groups(list(p["row_groups"]))
        n = tbl.num_rows
        n_chunks = max(1, -(-n // chunk_rows))
        rows = {c: [] for c in tbl.column_names}
        out_bytes = {c: 0 for c in tbl.column_names}
        memo: dict[str, str] = {}
        for seq in range(n_chunks):
            sl = tbl.slice(seq * chunk_rows, min(chunk_rows, n - seq * chunk_rows))
            for c in tbl.column_names:
                arr = sl.column(c).combine_chunks()
                valid = arr.drop_null() if arr.null_count else arr
                with tracer.span("selector.stats", op=f"replay-{b}", col=c):
                    if chunk.is_bytes_type(arr.type):
                        selector.bytes_stats(valid)
                    else:
                        selector.int_stats(chunk._to_int64(valid))
                with tracer.span("selector.encode_best", op=f"replay-{b}", col=c) as a:
                    payload, meta = selector.encode_best(arr, memo.get(c))
                    a["codec"] = memo[c] = meta["codec"]
                    a["bytes_in"], a["bytes_out"] = int(meta["bytes_in"]), len(payload)
                with tracer.span("codecs.encode_array", op=f"replay-{b}", col=c,
                                 bytes_in=int(meta["bytes_in"])):
                    chunk.encode_array(arr, meta["codec"])
                with tracer.span("codecs.decode_array", op=f"replay-{b}", col=c,
                                 bytes_in=int(meta["bytes_in"])):
                    back = chunk.decode_array(payload, meta, len(arr))
                if not back.equals(arr):
                    mismatches.append(f"bucket {b} column {c} chunk {seq}: decode differs")
                out_bytes[c] += len(payload)
                rows[c].append({"chunk_seq": seq, "n_rows": len(arr),
                                "codec": meta["codec"], "meta": "{}", "payload": payload})
        for c, col_rows in rows.items():
            col_tbl = pa.Table.from_pylist(col_rows, schema=engine._CHUNK_FILE_SCHEMA)
            with tracer.span("catalog.write_chunk", op=f"replay-{b}", col=c):
                manifest.write_chunk(c, b, col_tbl, compression="none", row_group_size=1)
        with tracer.span("catalog.commit", op=f"replay-{b}"):
            manifest.commit_bucket(b, {
                "bucket": b, "n_rows": n, "n_chunks": n_chunks,
                "columns": {c: {"bytes_out": v} for c, v in out_bytes.items()},
                "committed_at": time.time()}, "replay")
        for c, v in out_bytes.items():
            job = job_bytes_out.get((b, c))
            if job != v:
                mismatches.append(f"bucket {b} column {c}: replay {v} bytes, job {job}")
    return mismatches
