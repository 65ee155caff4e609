"""Seeded benchmark inputs: documents, media side table, golden outputs.

``datagen`` content is a pure function of ``doc_id``, so the workload
seed only picks the doc_id namespace: seed 7 reads ids ``s7-...``. The
program under test receives nothing but the generated parquet tables.
Generation runs once per invocation, before the session starts, in one
worker process per core; each worker also computes the golden output of
its documents with ``semantics.extract_doc``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass
from multiprocessing import get_context

from ocr_translation_spark import datagen as D
from ocr_translation_spark import semantics as S

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


@dataclass
class Inputs:
    docs_path: str
    media_path: str
    golden_path: str
    doc_ids: list[str]
    shape: dict
    gen_s: float


def text_ids(seed: int, tag: str, n: int) -> list[str]:
    """``n`` documents of the default datagen mix plus the fixed edge
    documents (empty, text-only, media-only, all-boiler, ...)."""
    return [f"s{seed}-{tag}{i:07d}" for i in range(n)] + list(D.EDGE_DOC_IDS)


def heavy_ids(seed: int, n: int) -> list[str]:
    """The first ``n`` ids of the seed's namespace that datagen's own
    rule makes media-heavy (50-200 media spans each)."""
    out, i = [], 0
    while len(out) < n:
        d = f"s{seed}-m{i:08d}"
        i += 1
        if D.stable_int("heavy", D.SEED, d) % 97 == 0:
            out.append(d)
    return out


def _span_type(pa):
    return pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )


def _docs_table(pa, rows):
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in rows], pa.string()),
            "spans": pa.array(
                [[tuple(s[k] for k in SPAN_FIELDS) for s in spans] for _, spans in rows],
                _span_type(pa),
            ),
        }
    )


def _gen_part(job: tuple[list[str], str, int]) -> tuple[dict, dict]:
    """Worker: write one documents part and its golden part; return the
    part's media rows and span counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, out_dir, part = job
    docs = [(d, D.spans_for(d)) for d in ids]
    refs = D.collect_media_refs(docs)
    media = {r: (D.media_bytes_for(r), D._pick(D.MEDIA_KINDS, "mkind", r)) for r in refs}
    lookup = {r: b for r, (b, _) in media.items()}
    golden = [(d, S.extract_doc(spans, lookup)) for d, spans in docs]
    name = f"part-{part:05d}.parquet"
    pq.write_table(_docs_table(pa, docs), os.path.join(out_dir, "documents", name))
    pq.write_table(_docs_table(pa, golden), os.path.join(out_dir, "golden", name))
    counts = {
        "spans": sum(len(s) for _, s in docs),
        "media_spans": sum(
            1 for _, spans in docs for s in spans if s["kind"] == S.KIND_MEDIA
        ),
    }
    return media, counts


def generate(ids: list[str], out_dir: str, procs: int) -> Inputs:
    """Write documents/media/golden parquet for ``ids`` under ``out_dir``
    (replacing what was there) and describe the corpus shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)
    for sub in ("documents", "golden", "media"):
        os.makedirs(os.path.join(out_dir, sub))
    n_parts = 2 * procs  # several input splits per core
    chunk = -(-len(ids) // n_parts)
    jobs = [
        (ids[i * chunk : (i + 1) * chunk], out_dir, i)
        for i in range(n_parts)
        if ids[i * chunk : (i + 1) * chunk]
    ]
    pool = get_context("spawn").Pool(procs)
    try:
        results = pool.map(_gen_part, jobs)
        pool.close()
    finally:
        pool.terminate()
        pool.join()

    media: dict = {}
    for part_media, _ in results:
        media.update(part_media)
    refs = sorted(media)
    m_chunk = -(-len(refs) // n_parts)
    for i in range(n_parts):
        part = refs[i * m_chunk : (i + 1) * m_chunk]
        if not part:
            break
        pq.write_table(
            pa.table(
                {
                    "media_ref": pa.array(part, pa.string()),
                    "media_bytes": pa.array([media[r][0] for r in part], pa.binary()),
                    "media_kind": pa.array([media[r][1] for r in part], pa.string()),
                }
            ),
            os.path.join(out_dir, "media", f"part-{i:05d}.parquet"),
        )
    shape = {
        "docs": len(ids),
        "spans": sum(c["spans"] for _, c in results),
        "media_refs": sum(c["media_spans"] for _, c in results),
        "distinct_refs": len(refs),
        "distinct_payloads": len({hashlib.sha256(b).digest() for b, _ in media.values()}),
    }
    return Inputs(
        docs_path=os.path.join(out_dir, "documents"),
        media_path=os.path.join(out_dir, "media"),
        golden_path=os.path.join(out_dir, "golden"),
        doc_ids=ids,
        shape=shape,
        gen_s=time.perf_counter() - t0,
    )


def count_mismatches(out_path: str, golden_path: str) -> tuple[int, int]:
    """(docs checked, docs whose output differs from the golden spec on
    (kind, text, media_ref, order) or is missing or unexpected).

    Both are parquet directories (Spark's output may add hive
    ``bucket=K`` dirs). Equal tables are recognised column-wise; only a
    difference pays for the per-doc comparison that counts it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["doc_id", "spans"]
    gold = pq.read_table(golden_path, columns=cols).sort_by("doc_id")
    out = pq.read_table(out_path, columns=cols).sort_by("doc_id")
    try:
        spans = out.column("spans").cast(gold.column("spans").type)
        if out.column("doc_id").equals(gold.column("doc_id")) and spans.equals(
            gold.column("spans")
        ):
            return gold.num_rows, 0
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        pass  # a schema difference: compare row by row below

    def by_doc(tbl):
        return {
            row["doc_id"]: [tuple(s[k] for k in SPAN_FIELDS) for s in row["spans"]]
            for row in tbl.to_pylist()
        }

    o, g = by_doc(out), by_doc(gold)
    return len(g), sum(o.get(d) != s for d, s in g.items()) + len(o.keys() - g.keys())
