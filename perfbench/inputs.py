"""Seeded workload inputs, built from the public fixture generators.

Every text derives from ``(conv_id, turn_idx)`` through the fixture
functions (``gen_*``, ``payload_kind``, ``conv_len``, ``expected_for``),
and every conversation id carries the seed, so a new seed changes every
text while the kind mix and the sizes stay put. One seed always gives
byte-identical files.

Two input families exist:

* ``mix`` — the fixture traffic shape at sf0.1 size: 20,000
  conversations of user/assistant/tool turns plus one 10,000-turn skew
  conversation (about 170k turns, 24 MB of text), and a small batch of
  four new conversations that ``commit_resume`` appends.
* ``tool`` — tool turns of the kinds ``blocks_rtl``, ``html`` and
  ``pdf_layout`` only, at about the same text bytes.

Each family is written under ``<cache>/<family>-s<seed>-x<scale>/`` as
parquet directories ``input``, ``expected`` and ``docs`` (plus
``append`` and ``append_expected`` for ``mix``) and a ``meta.json`` with
the turn count, text bytes and kind mix of every part. The parts are
``part-0`` to ``part-3``, a quarter of the conversations each, and for
``mix`` also ``part-skew``; a workload may read a subset of them. Parts
are generated in parallel by processes that run this file with
``--part``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from v2_ocr_spark.fixtures.generate import (  # noqa: E402
    GEN,
    ROLES,
    SKEW_TURNS,
    SPAN_TYPE,
    TOOL_NAMES,
    conv_len,
    expected_for,
    payload_kind,
)

KINDS = ("markdown", "plain", "blocks_rtl", "html", "pdf_layout")
TOOL_KINDS = ("blocks_rtl", "html", "pdf_layout")
MIX_CONVS = 20_000  # sf0.1
TOOL_CONVS = 15_600  # about the mix's text bytes in tool turns only
APPEND_CONVS = 4  # touches at most 4 of the runner's 32 partitions
CHUNKS = 4  # conversation parts per family, generated in parallel
SKEW_PART = "skew"  # the mix's skew conversation is a part of its own
CACHE_KEEP = 24  # seeds kept per cache directory, least recent evicted
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

INPUT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
EXPECTED_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("payload_kind", pa.string()), ("expected_text", pa.string()),
    ("expected_spans", SPAN_TYPE),
])
DOCS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("document_text", pa.string()),
    ("total_turns", pa.int32()),
])


def _conversations(family: str, seed: int, scale: float, part: str):
    """Yield (conv_id, ordinal, n_turns) for one part of a family: a
    quarter of the conversations each, or the skew conversation."""
    n_convs = max(1, round((MIX_CONVS if family == "mix" else TOOL_CONVS)
                           * scale))
    if part == SKEW_PART:
        yield f"s{seed}skew", n_convs, max(1, round(SKEW_TURNS * scale))
        return
    i = int(part)
    for o in range(n_convs * i // CHUNKS, n_convs * (i + 1) // CHUNKS):
        yield f"s{seed}{family[0]}{o:08d}", o, conv_len(o)


def _appended(seed: int, scale: float):
    n_convs = max(1, round(MIX_CONVS * scale))
    for j in range(APPEND_CONVS):
        o = n_convs + 1 + j
        yield f"s{seed}new{j:02d}", o, conv_len(o)


def _tables(family: str, convs) -> tuple[pa.Table, pa.Table, pa.Table, dict]:
    rows = {k: [] for k in INPUT_SCHEMA.names}
    exp = {k: [] for k in EXPECTED_SCHEMA.names}
    docs = {k: [] for k in DOCS_SCHEMA.names}
    mix = {k: {"turns": 0, "text_bytes": 0} for k in KINDS}
    for conv_id, ordinal, n_turns in convs:
        base_ts = EPOCH + timedelta(seconds=ordinal * 3600)
        texts = []
        for turn_idx in range(1, n_turns + 1):
            role = "tool" if family == "tool" else ROLES[(turn_idx - 1) % 3]
            kind = payload_kind(conv_id, turn_idx, role)
            if family == "tool" and kind not in TOOL_KINDS:
                continue
            text = GEN[kind](conv_id, turn_idx)
            tool = (f"{TOOL_NAMES[turn_idx % len(TOOL_NAMES)]} extract:{kind}"
                    if role == "tool" else None)
            cleaned, spans = expected_for(kind, text)
            for k, v in (("conv_id", conv_id), ("turn_idx", turn_idx),
                         ("role", role), ("text", text), ("tool", tool),
                         ("ts", base_ts + timedelta(seconds=turn_idx * 7))):
                rows[k].append(v)
            for k, v in (("conv_id", conv_id), ("turn_idx", turn_idx),
                         ("payload_kind", kind), ("expected_text", cleaned),
                         ("expected_spans", spans)):
                exp[k].append(v)
            texts.append(cleaned)
            mix[kind]["turns"] += 1
            mix[kind]["text_bytes"] += len(text.encode("utf-8"))
        if texts:
            docs["conv_id"].append(conv_id)
            docs["document_text"].append("\n\n".join(texts))
            docs["total_turns"].append(len(texts))
    return (pa.table(rows, schema=INPUT_SCHEMA),
            pa.table(exp, schema=EXPECTED_SCHEMA),
            pa.table(docs, schema=DOCS_SCHEMA), mix)


def _write_part(out: str, name: str, tables, mix: dict) -> None:
    for sub, table in zip(("input", "expected", "docs"), tables):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        # 4096-row groups give the scan split points, as in the fixtures
        pq.write_table(table, os.path.join(out, sub, f"{name}.parquet"),
                       row_group_size=4096)
    with open(os.path.join(out, f"mix-{name}.json"), "w") as f:
        json.dump(mix, f)


def _read_mixes(out: str) -> dict[str, dict]:
    """Collect and remove the per-part kind-mix files."""
    mixes = {}
    for fn in sorted(os.listdir(out)):
        if fn.startswith("mix-part-"):
            with open(os.path.join(out, fn)) as f:
                mixes[fn[len("mix-"):-len(".json")]] = json.load(f)
            os.remove(os.path.join(out, fn))
    return mixes


def ensure(cache_root: str, family: str, seed: int, scale: float) -> dict:
    """Return the meta of a family's inputs for a seed, generating them
    on a cache miss. The cached directory only appears once complete."""
    key = f"{family}-s{seed}-x{scale:g}"
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        os.utime(final)
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_hit"] = True
        return meta

    t0 = time.perf_counter()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    parts = [str(i) for i in range(CHUNKS)]
    if family == "mix":
        parts.append(SKEW_PART)
    try:
        workers = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--part", part,
                 "--family", family, "--seed", str(seed),
                 "--scale", repr(scale), "--out", tmp],
                stdin=subprocess.DEVNULL,
            )
            for part in parts
        ]
        codes = [p.wait() for p in workers]
        if any(codes):
            raise RuntimeError(f"input generation failed: exit codes {codes}")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    part_mix = _read_mixes(tmp)
    mix = {k: {m: sum(p[k][m] for p in part_mix.values())
               for m in ("turns", "text_bytes")} for k in KINDS}
    meta = {
        "family": family, "seed": seed, "scale": scale,
        "turns": sum(v["turns"] for v in mix.values()),
        "text_bytes": sum(v["text_bytes"] for v in mix.values()),
        "kind_mix": mix,
        "parts": {p: {"turns": sum(v["turns"] for v in m.values()),
                      "kind_mix": m} for p, m in part_mix.items()},
    }
    if family == "mix":
        t_in, t_exp, _, _ = _tables("mix", _appended(seed, scale))
        for sub, table in (("append", t_in), ("append_expected", t_exp)):
            os.makedirs(os.path.join(tmp, sub))
            pq.write_table(table, os.path.join(tmp, sub, "part-0.parquet"))
        meta["append_turns"] = t_in.num_rows
    meta["generate_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(cache_root)
    meta["cache_hit"] = False
    return meta


def _evict(cache_root: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, e)), e)
        for e in os.listdir(cache_root) if ".tmp" not in e
    )
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def _main() -> None:
    ap = argparse.ArgumentParser(description="generate one input part")
    ap.add_argument("--part", required=True)
    ap.add_argument("--family", choices=("mix", "tool"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    *tables, mix = _tables(
        a.family, _conversations(a.family, a.seed, a.scale, a.part)
    )
    _write_part(a.out, f"part-{a.part}", tables, mix)


if __name__ == "__main__":
    _main()
