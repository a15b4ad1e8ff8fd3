"""Seeded inputs for the extraction benchmark.

Every document comes from ``sources.synth.make_document`` with its index
offset by the seed, so the same seed gives the same documents and a
different seed gives different doc_ids and texts (giants are picked so
that every seed gets the same giant sizes; see ``doc_indices``). Two
on-disk layouts:

* ``partitioned``: one ``part=N`` directory per stored ``part`` value,
  the layout ``plans.pipeline.run_extraction`` prunes by;
* ``giant_clustered``: every giant in ONE file with ONE row group (a
  straggler no split can break up), the normal documents dealt
  round-robin over the other files, plus a seeded share of hostile
  pages mixed into the normal files.

Parquet is written with pyarrow, single-threaded and with fixed options,
so a (workload, seed, size) triple always gives byte-identical files.
Inputs are cached on disk under that triple; building them is never
timed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from readabilityimproved_spark.sources.synth import SITES, GIANT_EVERY, WORDS, make_document

#: doc-index distance between two seeds; larger than any workload size,
#: so two seeds never share a document
SEED_STRIDE = 10_000_000

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("base_uri", pa.string()),
        ("part", pa.int32()),
        ("spans", pa.list_(SPAN_TYPE)),
    ]
)
#: the ``part=N`` layout keeps ``part`` in the directory name only
PARTITIONED_SCHEMA = pa.schema([f for f in DOC_SCHEMA if f.name != "part"])

HOSTILE_KINDS = ("deep", "unclosed", "classy")


@dataclass(frozen=True)
class InputSpec:
    """What to generate for one workload run."""

    layout: str  # partitioned | giant_clustered
    n_docs: int
    n_files: int = 16
    hostile_share: float = 0.0


def is_giant(doc_index: int) -> bool:
    """The synth corpus's giant rule (100x paragraphs)."""
    return doc_index % GIANT_EVERY == GIANT_EVERY - 1


def hostile_page(kind: str, rng: random.Random) -> str:
    """A page built to stress a parser or regex battery, at a fixed size
    per kind (so its cost does not vary with the seed) and with seeded
    content. ``deep``: ~1.5k-deep element nesting; ``unclosed``: ~1.5k
    unclosed inline tags; ``classy``: one ~100 KB ``class`` attribute
    fed to the class-weight regexes."""
    words = [WORDS[rng.randrange(len(WORDS))] for _ in range(64)]
    text = ", ".join(words) + "."
    if kind == "deep":
        tags = [rng.choice(("div", "span", "section")) for _ in range(1500)]
        opening = "".join(f"<{t}>" for t in tags)
        closing = "".join(f"</{t}>" for t in reversed(tags))
        return f"<html><body>{opening}<p>{text}</p>{closing}</body></html>"
    if kind == "unclosed":
        chunks = [
            f"<{rng.choice(('p', 'b', 'i', 'span', 'font'))}>{words[i % 64]}, "
            for i in range(1500)
        ]
        return "<html><body>" + "".join(chunks) + "</body></html>"
    if kind == "classy":
        cls = " ".join(
            rng.choice(("comment", "sidebar", "article", "body", "content", w))
            for w in words * 200
        )
        return (
            f'<html><head><title>{words[0]}</title></head><body>'
            f'<div class="{cls}"><p>{text}</p></div></body></html>'
        )
    raise ValueError(f"unknown hostile kind {kind!r}")


def _paragraph_factor(doc_index: int) -> int:
    """``make_document``'s paragraph count (divided by 100 for a giant):
    the third draw from its per-document generator."""
    rng = random.Random(0xC0FFEE ^ (doc_index * 2654435761 % 2**61))
    rng.randrange(len(SITES))
    rng.randrange(28)
    return rng.randrange(3, 13)


def doc_indices(spec: InputSpec, seed: int) -> list[int]:
    """The synth doc index of each of the workload's documents.

    Slot ``i`` holds document ``base + i``, except in giant slots (1 in
    101): those take the next giant index past the normal range whose
    paragraph count follows the fixed cycle 300, 400, ..., 1200. Every
    seed then has the same giant sizes, which otherwise swing the work of
    a run by several percent from seed to seed."""
    base = seed * SEED_STRIDE
    end = base + spec.n_docs
    giant = end + (GIANT_EVERY - 1 - end % GIANT_EVERY) % GIANT_EVERY
    out, n_giants = [], 0
    for i in range(spec.n_docs):
        if not is_giant(base + i):
            out.append(base + i)
            continue
        while _paragraph_factor(giant) != 3 + n_giants % 10:
            giant += GIANT_EVERY
        out.append(giant)
        giant += GIANT_EVERY
        n_giants += 1
    return out


def _hostile_positions(spec: InputSpec, seed: int) -> tuple[list[int], random.Random]:
    rng = random.Random(seed)
    normals = [i for i, idx in enumerate(doc_indices(spec, seed)) if not is_giant(idx)]
    return sorted(rng.sample(normals, round(spec.n_docs * spec.hostile_share))), rng


def doc_kinds(spec: InputSpec, seed: int) -> dict[str, str]:
    """doc_id -> 'giant' | 'hostile' | 'normal', without generating pages."""
    hostile = set(_hostile_positions(spec, seed)[0])
    return {
        f"doc-{idx:09d}": "giant" if is_giant(idx)
        else "hostile" if i in hostile else "normal"
        for i, idx in enumerate(doc_indices(spec, seed))
    }


def make_docs(spec: InputSpec, seed: int) -> list[dict]:
    """The workload's documents, in slot order. Hostile pages keep their
    synth doc_id, base_uri and part and replace the spans."""
    docs = [make_document(idx) for idx in doc_indices(spec, seed)]
    positions, rng = _hostile_positions(spec, seed)
    for k, i in enumerate(positions):
        page = hostile_page(HOSTILE_KINDS[k % len(HOSTILE_KINDS)], rng)
        docs[i]["spans"] = [{"kind": "html", "text": page, "media_ref": None, "offset": 0}]
    return docs


def _write(rows: list[dict], schema: pa.Schema, path: str, one_row_group: bool) -> None:
    table = pa.Table.from_pylist(
        [{f.name: r[f.name] for f in schema} for r in rows], schema=schema
    )
    pq.write_table(
        table,
        path,
        row_group_size=max(len(rows), 1) if one_row_group else 1024,
        compression="snappy",
        use_dictionary=True,
        write_statistics=True,
    )


def write_layout(spec: InputSpec, docs: list[dict], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    if spec.layout == "partitioned":
        by_part: dict[int, list[dict]] = {}
        for d in docs:
            by_part.setdefault(d["part"], []).append(d)
        for p in sorted(by_part):
            os.makedirs(f"{out_dir}/part={p}")
            _write(by_part[p], PARTITIONED_SCHEMA, f"{out_dir}/part={p}/part-00000.parquet", False)
    elif spec.layout == "giant_clustered":
        # more than 200 spans: the pipeline's own giant threshold
        giants = [d for d in docs if len(d["spans"]) > 200]
        normals = [d for d in docs if len(d["spans"]) <= 200]
        _write(giants, DOC_SCHEMA, f"{out_dir}/part-00000.parquet", True)
        rest = spec.n_files - 1
        for f in range(rest):
            _write(normals[f::rest], DOC_SCHEMA, f"{out_dir}/part-{f + 1:05d}.parquet", False)
    else:
        raise ValueError(f"unknown layout {spec.layout!r}")


def ensure_inputs(spec: InputSpec, seed: int, workload: str, cache_root: str) -> str:
    """Path of the cached input directory for (workload, seed, spec),
    generating it first when absent. A finished directory is published
    with one rename, so a killed run never leaves a half-written cache."""
    tag = hashlib.sha256(repr(spec).encode()).hexdigest()[:8]
    final = os.path.join(cache_root, f"{workload}-s{seed}-n{spec.n_docs}-{tag}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_layout(spec, make_docs(spec, seed), tmp)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.rename(tmp, final)
    return final
