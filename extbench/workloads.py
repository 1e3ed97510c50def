"""The three workloads: one committed job each, and its correctness check.

A job is what a user of the package runs for one batch of documents:

* ``interleaved`` / ``digital``: ``plans.pipeline.extract`` committed
  with ``plans.snapshot.snapshot_append`` into a fresh table.
* ``ladder``: ``plans.cascade.cascade_ladder_committed`` into a fresh
  output directory (four rungs, each committed as a snapshot, then the
  keep-best merge committed to ``fields_ladder``).

Checks run after the timed loop and read the committed parquet with
pyarrow, so they add no Spark work to any measured job.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen


def _manifests(table_dir: str) -> list[dict]:
    mdir = os.path.join(table_dir, "manifests")
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as f:
            out.append(json.load(f))
    return out


def _committed(table_dir: str) -> pa.Table | None:
    """Union of the committed snapshots of a snapshot table."""
    parts = [pq.read_table(m["data_dir"]) for m in _manifests(table_dir)]
    return pa.concat_tables(parts, promote_options="permissive") \
        if parts else None


def _canon_spans(col: pa.ChunkedArray) -> list:
    """Spans as plain tuples, independent of the parquet list field name."""
    return [[(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in v]
            for v in col.to_pylist()]


def _columns(spans: pa.ChunkedArray) -> list[pa.Array]:
    """A spans column as flat arrays (per-doc lengths, then each span
    field): equal lists of arrays mean equal spans, doc by doc."""
    arr = spans.combine_chunks()
    flat = arr.flatten()
    return [pc.list_value_length(arr)] + [
        flat.field(f) for f in ("kind", "text", "media_ref", "offset")]


class SynthWorkload:
    """``interleaved`` and ``digital``: extract + snapshot commit."""

    def __init__(self, spark, inputs: str):
        from angola_erp_ocr_spark.plans import pipeline, snapshot

        self.spark = spark
        self.pipeline, self.snapshot = pipeline, snapshot
        self.raw = spark.read.parquet(os.path.join(inputs, "raw"))
        self.media = spark.read.parquet(os.path.join(inputs, "media"))
        golden = pq.read_table(os.path.join(inputs, "golden"))
        self.docs = len(golden)
        self._golden = golden.sort_by("doc_id")
        self._golden_cols = _columns(self._golden.column("spans"))

    def run(self, out: str) -> int:
        """One committed job; returns the docs it committed."""
        m = self.snapshot.snapshot_append(
            self.pipeline.extract(self.raw, self.media), out)
        return m["n_rows"]

    def check(self, out: str) -> tuple[int, int]:
        """(attempted, failed) docs of one committed output: a doc that is
        wrong, missing or extra (or committed twice) is one failure."""
        got = _committed(out)
        if got is None:
            return self.docs, self.docs
        got = got.sort_by("doc_id")
        if (got.column("doc_id").equals(self._golden.column("doc_id"))
                and all(a.equals(b) for a, b in zip(
                    _columns(got.column("spans")), self._golden_cols))):
            return self.docs, 0
        # slow path, only on a mismatch: find the failed docs one by one
        want = dict(zip(self._golden.column("doc_id").to_pylist(),
                        _canon_spans(self._golden.column("spans"))))
        seen: dict[str, list] = {}
        extra = 0
        for d, s in zip(got.column("doc_id").to_pylist(),
                        _canon_spans(got.column("spans"))):
            if d in seen or d not in want:
                extra += 1
            seen[d] = s
        wrong = sum(1 for d, s in want.items() if seen.get(d) != s)
        return self.docs, wrong + extra

    def resume_commits(self, out: str) -> int:
        """Rows a resume of the completed output would commit: the
        documents ``resume_filter`` still finds against the committed
        snapshots (must be 0)."""
        committed = self.snapshot.read_snapshots(self.spark, out)
        return self.pipeline.resume_filter(self.raw, committed).count()


class LadderWorkload:
    """``ladder``: the committed four-rung retry ladder."""

    def __init__(self, spark, inputs: str):
        from angola_erp_ocr_spark.plans import cascade

        self.spark, self.cascade = spark, cascade
        self.raw = spark.read.parquet(os.path.join(inputs, "raw"))
        self.media = spark.read.parquet(os.path.join(inputs, "media"))
        ids = pq.read_table(os.path.join(inputs, "raw"),
                            columns=["doc_id"]).column("doc_id").to_pylist()
        self.docs = len(ids)
        self._ids = set(ids)

    def run(self, out: str) -> int:
        self.cascade.cascade_ladder_committed(
            self.spark, self.raw, self.media, out)
        return sum(m["n_rows"]
                   for m in _manifests(os.path.join(out, "fields_ladder")))

    def check(self, out: str) -> tuple[int, int]:
        """Every ``fields_ladder`` row against the class arithmetic, and
        every ``fields_passes`` row against the rung that wrote it: a
        field is set exactly when its winning pass is at or before the
        row's pass, and then holds the expected value."""
        bad: set = set()
        final = _committed(os.path.join(out, "fields_ladder"))
        rows = final.to_pylist() if final is not None else []
        seen = set()
        for r in rows:
            did = r["doc_id"]
            want = gen.ladder_expected(did)
            got = {k: r.get(k) for k in want}
            if did in seen or did not in self._ids or got != want:
                bad.add(did)
            seen.add(did)
        bad.update(self._ids - seen)
        passes = _committed(os.path.join(out, "fields_passes"))
        for r in (passes.to_pylist() if passes is not None else []):
            did, p = r["doc_id"], r["pass_no"]
            wins = gen.LADDER_WIN[did % 6]
            if did not in self._ids or p > (wins[0] or 4):
                bad.add(did)  # a rung extracted a doc it should skip
                continue
            for f, v, w in zip(gen.LADDER_FIELDS, gen.ladder_values(did),
                               wins):
                if r.get(f) != (v if w is not None and w <= p else None):
                    bad.add(did)
        return self.docs, len(bad)

    def resume_commits(self, out: str) -> int:
        """Snapshots a re-run of the completed ladder commits (must be 0)."""
        tables = [os.path.join(out, t) for t in ("fields_passes",
                                                 "fields_ladder")]
        before = sum(len(_manifests(t)) for t in tables)
        self.cascade.cascade_ladder_committed(
            self.spark, self.raw, self.media, out)
        return sum(len(_manifests(t)) for t in tables) - before


WORKLOADS = {
    "interleaved": SynthWorkload,
    "digital": SynthWorkload,
    "ladder": LadderWorkload,
}
