"""Single-thread micro-run of the codec and part-file layers on one fixed
sample part (partition 0 of the served table), in this process.

Every figure is the median of `REPS` repetitions; throughput is decoded
content bytes (``partfile.content_bytes``) per second.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import pyarrow as pa

REPS = 3


def _median_s(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def sample_part(served_dir: str) -> str:
    from skar_spark.engine.decode import list_part_files, _file_part_index
    files = sorted(list_part_files(served_dir), key=_file_part_index)
    return files[0]


def codec_choices(footers: list[dict]) -> tuple[dict, dict]:
    """({column: {codec: chunk share}}, {column: bytes out}) over the
    row-group chunks of the given part footers."""
    counts: dict[str, dict[str, int]] = {}
    sizes: dict[str, int] = {}
    for ft in footers:
        for rg in ft["rowgroups"]:
            for col, (_pos, length, codec) in rg["chunks"].items():
                c = counts.setdefault(col, {})
                c[codec] = c.get(codec, 0) + 1
                sizes[col] = sizes.get(col, 0) + length
    shares = {col: {k: v / sum(c.values()) for k, v in c.items()}
              for col, c in counts.items()}
    return shares, sizes


def run(served_dir: str, work_dir: str) -> dict:
    from skar_spark.codecs import core, framing, selector
    from skar_spark.codecs import alp as ALP
    from skar_spark.config import DEFAULT
    from skar_spark.engine.partfile import (content_bytes, read_part_file,
                                            write_part_file)

    path = sample_part(served_dir)
    out: dict = {}
    t_read = _median_s(lambda: read_part_file(path))
    table = read_part_file(path)
    body = table.select([c for c in table.column_names if c != "host"])
    mb = sum(content_bytes(body[c]) for c in body.column_names) / 1e6
    out["partfile.read_mbps"] = mb / t_read
    dst = os.path.join(work_dir, "micro-part.skar")
    t_write = _median_s(lambda: write_part_file(dst, body, DEFAULT))
    out["partfile.write_mbps"] = mb / t_write

    # selector: trial time (choose_codec) vs full encode_auto, per
    # row-group-sized chunk, and the zstd framing share inside encode_auto
    chunks = [body.slice(i, DEFAULT.max_row_group_size)
              for i in range(0, body.num_rows, DEFAULT.max_row_group_size)]
    t_choose = t_auto = 0.0
    zstd = [0.0]
    pack = framing.pack_section

    def timed_pack(*a, **kw):
        t0 = time.perf_counter()
        try:
            return pack(*a, **kw)
        finally:
            zstd[0] += time.perf_counter() - t0
    for ch in chunks:
        for c in ch.column_names:
            arr = ch[c].combine_chunks()
            t0 = time.perf_counter()
            selector.choose_codec(arr, DEFAULT)
            t_choose += time.perf_counter() - t0
            framing.pack_section = timed_pack
            try:
                t0 = time.perf_counter()
                selector.encode_auto(arr, DEFAULT)
                t_auto += time.perf_counter() - t0
            finally:
                framing.pack_section = pack
    out["codecs.selector.trial_share"] = t_choose / t_auto
    out["codecs.framing.zstd_share"] = zstd[0] / t_auto

    text = body["text"].combine_chunks()
    text_mb = content_bytes(text) / 1e6
    blob = [b""]

    def enc():
        blob[0] = core.encode_array(text, "fsst", DEFAULT)
    out["codecs.fsst.encode_mbps"] = text_mb / _median_s(enc)
    out["codecs.fsst.decode_mbps"] = text_mb / _median_s(
        lambda: core.decode_array(blob[0]))

    import numpy as np
    floats = [body[c].combine_chunks() for c in body.column_names
              if pa.types.is_floating(body[c].type)]
    if floats:
        vals = [f.fill_null(0).to_numpy().astype(np.float64) for f in floats]
        fmb = sum(v.nbytes for v in vals) / 1e6
        out["codecs.alp.encode_mbps"] = fmb / _median_s(
            lambda: [ALP.encode(v) for v in vals])
    else:
        out["codecs.alp.encode_mbps"] = 0.0   # no float column here
    ints = [body[c].combine_chunks() for c in body.column_names
            if pa.types.is_integer(body[c].type)
            or pa.types.is_timestamp(body[c].type)]
    imb = sum(content_bytes(a) for a in ints) / 1e6
    out["codecs.core.int_encode_mbps"] = imb / _median_s(
        lambda: [selector.encode_auto(a, DEFAULT) for a in ints])
    return out


def footers(served_dir: str) -> list[dict]:
    from skar_spark.engine.decode import list_part_files
    from skar_spark.engine.partfile import read_footer
    return [read_footer(p) for p in list_part_files(served_dir)]


def salt_summary(served_dir: str) -> tuple[int, int]:
    """(salted hosts, salt chunks) from the table's persisted salt map."""
    import pyarrow.parquet as pq
    files = sorted((Path(served_dir) / "meta" / "salt_map").glob("*.parquet"))
    if not files:
        return 0, 0
    t = pq.read_table(files[0])
    return t.num_rows, int(sum(t["n_salts"].to_pylist()))
