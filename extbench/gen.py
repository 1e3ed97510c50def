"""Seeded, cached inputs for the extraction benchmark.

Inputs are generated outside every timed region and cached under the
cache directory, keyed by the seed and by a digest of the generator
sources (``synth.py`` and the modules it calls, plus this file), so a
change to either can never reuse a stale input.

``interleaved`` and ``digital`` select from a seed-independent *pool* of
``synth.gen_doc`` documents that is generated once per digest (about
2 ms per interleaved doc on one core, too slow to repeat for every seed).
The pool holds 2N docs sorted by cost (media pages, then spans, then
golden spans); consecutive docs form pairs and the seed picks one doc of
every pair. Every seed therefore gets different documents with almost
the same cost profile, so seed-to-seed spread stays small while the
heavy-doc skew of the paper's mix is kept.

``ladder`` is cheap to generate, so it is built per seed from the class
arithmetic of the ``cascade_ladder`` contract query: doc ``d`` is of
class ``d % 6``. Its expected fields and winning passes are computed
here from that arithmetic, never by running the package.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
import multiprocessing.resource_tracker
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PKG = "angola_erp_ocr_spark"
# Generator sources whose bytes key every cached input.
GEN_SOURCES = [
    f"{PKG}/synth.py",
    f"{PKG}/glyph.py",
    f"{PKG}/functions/normalize.py",
    f"{PKG}/functions/qr.py",
    f"{PKG}/operators/multimodal.py",
]
POOL_SEED = 42
FILES_PER_TABLE = 8  # scan parallelism, as synth.build_corpus(partitions=8)

SPAN = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False),
])
SPANS = pa.list_(pa.field("element", SPAN, nullable=False))
RAW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("doc_class", pa.string()),
    pa.field("spans", SPANS, nullable=False),
])
GOLDEN = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", SPANS, nullable=False),
])
MEDIA = pa.schema([
    pa.field("media_ref", pa.string(), nullable=False),
    pa.field("page_no", pa.int32(), nullable=False),
    pa.field("glyph_grid", pa.binary(), nullable=False),
    pa.field("dpi", pa.int32(), nullable=False),
])
LADDER_RAW = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("spans", SPANS, nullable=False),
])
# Pool bookkeeping: one row per doc, the cost key used for pairing.
POOL_INDEX = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("pages", pa.int32(), nullable=False),
    pa.field("spans", pa.int32(), nullable=False),
    pa.field("golden", pa.int32(), nullable=False),
])


def source_digest(root: str) -> str:
    """sha256 over the generator sources and this file (first 16 hex)."""
    h = hashlib.sha256()
    for rel in GEN_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(b"gen.py\0" + f.read())
    return h.hexdigest()[:16]


def _spans(spans: list[dict]) -> list[dict]:
    return [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                 offset=s["offset"]) for s in spans]


def _likely_heavy(i: int) -> bool:
    """Mirrors the first draw of ``synth.gen_doc`` (its heavy-doc coin) so
    the digital pool can skip the 1% of docs that cost two thirds of the
    generation time. Only a shortcut: the pool still keeps a doc only
    when its generated output has no media, whatever this returns."""
    from angola_erp_ocr_spark import synth

    return random.Random(f"{POOL_SEED}:{i}").random() < synth.HEAVY_FRACTION


def _gen_chunk(args: tuple) -> tuple[str, int]:
    """Worker: generate docs ``lo..hi`` into one part file per table.
    ``text_only`` keeps media-free docs only. Returns (part name, docs)."""
    root, out_dir, lo, hi, text_only = args
    import sys
    if root not in sys.path:
        sys.path.insert(0, root)
    from angola_erp_ocr_spark import synth

    raw, golden, media, index = [], [], [], []
    for i in range(lo, hi):
        if text_only and _likely_heavy(i):
            continue
        d = synth.gen_doc(i, POOL_SEED)
        if text_only and d["media"]:
            continue
        raw.append(dict(doc_id=d["doc_id"], doc_class=d["doc_class"],
                        spans=_spans(d["spans"])))
        golden.append(dict(doc_id=d["doc_id"], spans=_spans(d["golden"])))
        media.extend(dict(media_ref=m["media_ref"], page_no=m["page_no"],
                          glyph_grid=m["glyph_grid"], dpi=m["dpi"])
                     for m in d["media"])
        index.append(dict(doc_id=d["doc_id"], pages=len(d["media"]),
                          spans=len(d["spans"]), golden=len(d["golden"])))
    name = f"part-{lo:09d}.parquet"
    for table, schema, rows in (("raw", RAW, raw), ("golden", GOLDEN, golden),
                                ("media", MEDIA, media),
                                ("index", POOL_INDEX, index)):
        os.makedirs(os.path.join(out_dir, table), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(out_dir, table, name))
    return name, len(index)


def _publish(tmp: str, final: str) -> None:
    """Atomic publish of a finished cache entry; a killed run leaves only
    a tmp directory, which is never read."""
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run published first
        shutil.rmtree(tmp, ignore_errors=True)


def _build_pool(root: str, final: str, n_pool: int, text_only: bool,
                procs: int) -> None:
    """Generate a pool of exactly ``n_pool`` docs (all docs from index 0,
    or the first ``n_pool`` media-free ones) with ``procs`` workers."""
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # media-free docs are ~30% of synth's mix; overshoot, then trim
    span = n_pool if not text_only else int(n_pool / 0.25) + 64
    step = max(64, span // (procs * 8))
    jobs = [(root, tmp, lo, min(lo + step, span), text_only)
            for lo in range(0, span, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        made = sum(n for _, n in pool.map(_gen_chunk, jobs))
        pool.close()
        pool.join()
    del pool
    _stop_resource_tracker()
    if made < n_pool:
        raise RuntimeError(f"pool {final}: generated {made} < {n_pool} docs")
    index = pq.read_table(os.path.join(tmp, "index"))
    if len(index) > n_pool:  # trim to the n_pool lowest doc ids
        keep = sorted(index.column("doc_id").to_pylist())[:n_pool]
        _filter_tables(tmp, tmp + ".trim", set(keep), files=1)
        shutil.rmtree(tmp)
        os.rename(tmp + ".trim", tmp)
    _publish(tmp, final)


def _stop_resource_tracker() -> None:
    """A spawn pool starts multiprocessing's resource tracker, a helper
    process that otherwise lives until this process exits and ends only
    after it: stop it and wait for it now, so the caller outlives every
    process it started. The pool's semaphores must be gone first (their
    finalizers unregister them), or the tracker removes them itself and
    the finalizers fail."""
    gc.collect()
    tracker = multiprocessing.resource_tracker._resource_tracker
    stop = getattr(tracker, "_stop", None)
    if stop is not None:
        stop()


def _filter_tables(src: str, dst: str, ids: set[str], files: int) -> None:
    """Copy the rows of ``ids`` from every table of ``src`` into ``dst``,
    sorted by key, split into ``files`` part files per table."""
    os.makedirs(dst, exist_ok=True)
    for table in ("raw", "golden", "media", "index"):
        path = os.path.join(src, table)
        if not os.path.isdir(path):
            continue
        t = pq.read_table(path)
        if table == "media":
            key = [r.split("/")[2] for r in t.column("media_ref").to_pylist()]
        else:
            key = t.column("doc_id").to_pylist()
        rows = sorted((k, j) for j, k in enumerate(key) if k in ids)
        t = t.take(pa.array([j for _, j in rows], type=pa.int64()))
        _write_split(t, os.path.join(dst, table), files)


def _write_split(t: pa.Table, out: str, files: int) -> None:
    os.makedirs(out, exist_ok=True)
    per = max(1, -(-len(t) // files))
    for k in range(files):
        part = t.slice(k * per, per)
        if len(part) or k == 0:
            pq.write_table(part, os.path.join(out, f"part-{k:05d}.parquet"))


def pool_dir(cache: str, digest: str, workload: str, n: int) -> str:
    return os.path.join(cache, f"pool-{workload}-{n}-{digest}")


def ensure_pools(root: str, cache: str, digest: str,
                 sizes: dict[str, int], procs: int) -> None:
    """Build every missing pool (interleaved and digital) up front, so the
    first run of any workload pays for all of them once."""
    os.makedirs(cache, exist_ok=True)
    for workload, text_only in (("interleaved", False), ("digital", True)):
        final = pool_dir(cache, digest, workload, sizes[workload])
        if not os.path.isdir(final):
            _build_pool(root, final, 2 * sizes[workload], text_only, procs)


def select_pairs(index: pa.Table, seed: int, workload: str) -> set[str]:
    """One doc from every consecutive pair of the cost-sorted pool."""
    rows = sorted(zip(index.column("pages").to_pylist(),
                      index.column("spans").to_pylist(),
                      index.column("golden").to_pylist(),
                      index.column("doc_id").to_pylist()))
    rng = random.Random(f"extbench:{workload}:{seed}")
    return {rows[k + rng.randrange(2)][3] for k in range(0, len(rows) - 1, 2)}


def seeded_inputs(root: str, cache: str, workload: str, seed: int, n: int,
                  procs: int) -> str:
    """Directory holding this (workload, seed, size)'s input tables:
    raw, golden and media for the synth workloads; raw and media for the
    ladder. Built on first use, then read from the cache."""
    digest = source_digest(root)
    final = os.path.join(cache, f"in-{workload}-{n}-s{seed}-{digest}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "ladder":
        _ladder_tables(tmp, seed, n)
    else:
        src = pool_dir(cache, digest, workload, n)
        ids = select_pairs(pq.read_table(os.path.join(src, "index")), seed,
                           workload)
        _filter_tables(src, tmp, ids, FILES_PER_TABLE)
    _publish(tmp, final)
    return final


# ---------------------------------------------------------------------------
# ladder: single-page docs, class = doc_id % 6 (cascade_ladder contract)
# ---------------------------------------------------------------------------

# class → word confidence; class 2 prints 2 px glyphs instead, class 4
# keeps only its English keyword below every gate, and class 5 scatters
# the amount line's line ids (see ``_ladder_page``)
_LADDER_CONF = {0: 80, 1: 25, 2: 80, 3: 5, 4: 80, 5: 80}
# class → winning pass of (total_amount, currency, invoice_date); None =
# never recovered
LADDER_WIN = {0: (1, 1, 1), 1: (2, 2, 2), 2: (3, 3, 3), 3: (None,) * 3,
              4: (2, 1, 1), 5: (2, 1, 1)}
LADDER_FIELDS = ("total_amount", "currency", "invoice_date")


def ladder_base(seed: int) -> int:
    """First doc id of the seed's contiguous id range (a multiple of 6, so
    every class has exactly N/6 docs and every seed the same rung sizes)."""
    return 6 * (1 + random.Random(f"extbench:ladder:{seed}").randrange(10**6))


def ladder_values(did: int) -> tuple[str, str, str]:
    return (f"{100 + did % 900},00", "AKZ",
            f"2023/{1 + did % 12:02d}/{1 + did % 28:02d}")


def ladder_expected(did: int) -> dict:
    """Expected ``fields_ladder`` row of doc ``did``."""
    wins = LADDER_WIN[did % 6]
    row = {"doc_id": did, "must_ok": wins[0] is not None}
    for f, v, p in zip(LADDER_FIELDS, ladder_values(did), wins):
        row[f] = v if p is not None else None
        row[f"{f}_pass"] = p
    return row


def _ladder_page(did: int) -> bytes:
    from angola_erp_ocr_spark.glyph import encode_page

    cls = did % 6
    conf, h = _LADDER_CONF[cls], (2 if cls == 2 else 12)
    amount, _, date = ladder_values(did)
    kw = "TAXABLE" if cls == 4 else "TOTAL"
    lines = ["MULTICAIXA EXPRESS", f"{kw} {amount} AKZ", f"DATA {date}"]
    words = []
    for ln, text in enumerate(lines):
        x = 40
        for k, w in enumerate(text.split(" ")):
            wconf = 5 if (cls == 4 and w == "TAXABLE") else conf
            line_id, widx = ((1, 3, 4)[k], 0) if (cls == 5 and ln == 1) \
                else (ln, k)
            words.append(dict(x=x, y=10 + 14 * ln, w=8 * len(w), h=h,
                              conf=wconf, block=0, par=0, line=line_id,
                              word_idx=widx, text=w))
            x += 8 * len(w) + 8
    return encode_page(words)


def _ladder_tables(out: str, seed: int, n: int) -> None:
    if n % 6:
        raise ValueError(f"ladder size {n} is not a multiple of 6")
    base = ladder_base(seed)
    ids = list(range(base, base + n))
    refs = [f"page://lad/{d}" for d in ids]
    raw = pa.Table.from_pylist(
        [dict(doc_id=d, spans=[dict(kind="media", text="", media_ref=r,
                                    offset=0)])
         for d, r in zip(ids, refs)], schema=LADDER_RAW)
    media = pa.Table.from_pylist(
        [dict(media_ref=r, page_no=0, glyph_grid=_ladder_page(d), dpi=150)
         for d, r in zip(ids, refs)], schema=MEDIA)
    _write_split(raw, os.path.join(out, "raw"), FILES_PER_TABLE)
    _write_split(media, os.path.join(out, "media"), FILES_PER_TABLE)


def input_digest(path: str) -> str:
    """sha256 over every input file (first 16 hex) for the host stamp."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(path)):
        dirnames.sort()
        for name in sorted(files):
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]
