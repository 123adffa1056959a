"""Single-threaded replays of layer public functions on inputs the benchmark
builds itself (traced runs only), plus readers of engine-written markers.

A marker reader that finds no marker (the engine stopped writing it, or
renamed it) returns None; the caller reports the metric as missing."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid

import numpy as np


def _cpu(fn):
    t0 = time.process_time()
    out = fn()
    return out, time.process_time() - t0


def cut_token_chunks(values: np.ndarray, lengths: np.ndarray,
                     max_rows: int, max_values: int, limit_values: int):
    """Consecutive (values, lengths) chunks, each at most ``max_rows`` rows
    and ``max_values`` values, until ``limit_values`` values are cut."""
    offs = np.concatenate([[0], np.cumsum(lengths, dtype=np.int64)])
    lo, out = 0, []
    while lo < len(lengths) and offs[lo] < limit_values:
        hi = lo + 1
        while (hi < len(lengths) and hi - lo < max_rows
               and offs[hi + 1] - offs[lo] <= max_values):
            hi += 1
        out.append((values[offs[lo]:offs[hi]], lengths[lo:hi]))
        lo = hi
    return out


def token_cost_replay(chunks) -> dict:
    """``plans.cost.encode_values`` (selection + winning encode) against the
    winning codec alone, the best candidate's size, and the decode of the
    chosen payloads through ``functions.codecs``."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C
    from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import encode_values

    sel_s = win_s = dec_s = 0.0
    toks = 0
    regrets, cands = [], []
    for values, lengths in chunks:
        toks += len(values)
        payload, s = _cpu(lambda: encode_values(values, lengths))
        sel_s += s
        name = C.payload_codec_name(payload)
        sizes = {}
        for codec in C.INT_CODECS:
            enc = C.encode_int32(values, codec)
            if enc is not None:
                sizes[C.CODEC_NAMES[codec]] = len(enc)
        sizes["grouped"] = len(C.encode_int32_grouped(values, lengths))
        cands.append(len(sizes))
        regrets.append(len(payload) / min(sizes.values()))
        if name == "grouped":
            _, s = _cpu(lambda: C.encode_int32_grouped(values, lengths))
            _, d = _cpu(lambda: C.decode_int32_grouped(payload, lengths))
        else:
            code = {C.CODEC_NAMES[c]: c for c in C.INT_CODECS}[name]
            _, s = _cpu(lambda: C.encode_int32(values, code))
            _, d = _cpu(lambda: C.decode_int32(payload))
        win_s += s
        dec_s += d
    mtok = max(toks, 1) / 1e6
    return {
        "cost.select_cpu_s_per_Mtok": sel_s / mtok,
        "cost.winner_cpu_s_per_Mtok": win_s / mtok,
        "cost.select_overhead": sel_s / max(win_s, 1e-9),
        "cost.regret": statistics.fmean(regrets) if regrets else 1.0,
        "cost.candidates_per_chunk": statistics.fmean(cands) if cands else 0.0,
        "codecs.decode_cpu_s_per_Mtok": dec_s / mtok,
    }


def typed_cost_replay(table, chunk_rows: int) -> dict:
    """The same split on typed lanes: ``select_typed_codec`` for numeric
    columns, ``select_str_codec`` for strings, per ``chunk_rows`` slice."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions import codecs as C
    from pandora_apache_avro_idl_to_apache_parquet_spark.plans.cost import (
        select_str_codec,
        select_typed_codec,
    )

    sel_s = win_s = dec_s = 0.0
    vals = 0
    regrets, cands = [], []
    str_code = {C.CODEC_NAMES[c]: c for c in C.STR_CODECS}
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        for lo in range(0, len(col), chunk_rows):
            part = col.slice(lo, chunk_rows)
            vals += len(part)
            if part.type == "string":
                lengths, blob = C.strings_to_blob(part)
                payload, s = _cpu(lambda: select_str_codec(lengths, blob))
                sizes = {C.CODEC_NAMES[c]: len(e) for c in C.STR_CODECS
                         if (e := C.encode_strings(lengths, blob, c)) is not None}
                code = str_code[C.payload_codec_name(payload)]
                _, w = _cpu(lambda: C.encode_strings(lengths, blob, code))
                _, d = _cpu(lambda: C.decode_strings(payload))
            else:
                a = part.to_numpy(zero_copy_only=False)
                if a.dtype.kind == "M":
                    a = a.astype("datetime64[us]").astype(np.int64)
                payload, s = _cpu(lambda: select_typed_codec(a))
                # the candidate set of plans.cost.select_typed_codec
                pool = C.INT_CODECS + ((C.GCD,) if a.dtype == np.int64 else
                                       (C.ALP,) if a.dtype.kind == "f" else ())
                sizes = {C.CODEC_NAMES[c]: len(e) for c in pool
                         if (e := C.encode_typed(a, c)) is not None}
                code = {C.CODEC_NAMES[c]: c for c in pool}[
                    C.payload_codec_name(payload)]
                _, w = _cpu(lambda: C.encode_typed(a, code))
                _, d = _cpu(lambda: C.decode_typed(payload))
            sel_s += s
            win_s += w
            dec_s += d
            cands.append(len(sizes))
            regrets.append(len(payload) / min(sizes.values()))
    mval = max(vals, 1) / 1e6
    return {
        "cost.select_cpu_s_per_Mtok": sel_s / mval,
        "cost.winner_cpu_s_per_Mtok": win_s / mval,
        "cost.select_overhead": sel_s / max(win_s, 1e-9),
        "cost.regret": statistics.fmean(regrets) if regrets else 1.0,
        "cost.candidates_per_chunk": statistics.fmean(cands) if cands else 0.0,
        "codecs.decode_cpu_s_per_Mtok": dec_s / mval,
    }


def fsio_replay(base: str, n: int = 40) -> dict:
    """Direct ``FsIO.publish_bytes`` and ``create_exclusive`` calls: median
    latency of each over ``n`` fresh 4 KiB files."""
    from pandora_apache_avro_idl_to_apache_parquet_spark.functions.fsio import FsIO

    os.makedirs(base, exist_ok=True)
    io = FsIO.resolve(base)
    data = os.urandom(4096)
    pub, exc = [], []
    for i in range(n):
        t0 = time.perf_counter()
        io.publish_bytes(io.join(f"p{i}.bin"), data, attempt_tag=uuid.uuid4().hex[:8])
        pub.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        if not io.create_exclusive(io.join(f"x{i}.bin"), data):
            raise RuntimeError("create_exclusive lost a race with nobody")
        exc.append((time.perf_counter() - t0) * 1e3)
    return {"fsio.publish_ms_p50": statistics.median(pub),
            "fsio.exclusive_ms_p50": statistics.median(exc)}


def marker_stage_sums(out_dir: str) -> dict | None:
    """Sum the per-part stage seconds the encode jobs write into
    ``_checkpoints/*.json``; None when no such markers exist."""
    kern = wr = tot = 0.0
    found = False
    for p in glob.glob(os.path.join(out_dir, "_checkpoints", "*.json")):
        try:
            with open(p) as f:
                m = json.load(f)
            kern += float(m["kernel_sec"])
            wr += float(m["write_sec"])
            tot += float(m["total_sec"])
            found = True
        except (OSError, KeyError, ValueError, TypeError):
            continue
    if not found:
        return None
    return {"kernel_s_sum": kern, "write_s_sum": wr,
            "arrow_s_sum": max(tot - kern - wr, 0.0)}


def codec_mix(rows, codec_col: str, bytes_col: str) -> dict:
    """Byte share per codec name from collected manifest rows."""
    tot: dict[str, float] = {}
    for r in rows:
        tot[r[codec_col]] = tot.get(r[codec_col], 0.0) + float(r[bytes_col])
    s = sum(tot.values()) or 1.0
    return {k: v / s for k, v in tot.items()}
