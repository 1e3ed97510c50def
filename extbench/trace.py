"""Per-layer metrics of a traced run, measured from outside the package.

Each layer is timed by calling its public function from here and forcing
the result with Spark's ``noop`` sink (every column computed, nothing
written), ``REPS`` times after the end-to-end loop, median reported.
Each call runs under its own Spark job group, so the operator metrics
Spark records in its event log (Python worker time, Arrow bytes, shuffle
bytes, hash-join build size, sort fallbacks, task durations) are read
back per call. Counts are taken once, outside the timed calls.

Metric names are ``<package module>.<quantity>``; NOTES.md says which
end-to-end metric each should move, and on which workload.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid

REPS = 3


class EventLog:
    """Spark event log of this application, read back per job group."""

    def __init__(self, spark):
        from angola_erp_ocr_spark.stagelog import event_log_path

        self.path = event_log_path(spark)

    def _events(self, wait_group: str) -> list[dict]:
        """All events, once the job end of ``wait_group``'s last job is in
        the file (the listener bus writes asynchronously)."""
        deadline = time.monotonic() + 30
        while True:
            path = self.path if os.path.exists(self.path) \
                else self.path + ".inprogress"
            with open(path, encoding="utf-8") as f:
                events = []
                for line in f:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:  # torn tail line
                        break
            jobs = {e["Job ID"] for e in events
                    if e["Event"] == "SparkListenerJobStart"
                    and e.get("Properties", {}).get("spark.jobGroup.id")
                    == wait_group}
            ended = {e["Job ID"] for e in events
                     if e["Event"] == "SparkListenerJobEnd"}
            if jobs and jobs <= ended:
                return events
            if time.monotonic() > deadline:
                raise RuntimeError(f"event log: job group {wait_group} "
                                   "never completed")
            time.sleep(0.2)

    def group_metrics(self, group: str) -> dict:
        """SQL metrics (summed per name over the group's plan nodes),
        shuffle bytes written, and the task-duration skew of the group's
        heaviest stage (max over median task wall)."""
        events = self._events(group)
        stages: set[int] = set()
        for e in events:
            if (e["Event"] == "SparkListenerJobStart"
                    and e.get("Properties", {}).get("spark.jobGroup.id")
                    == group):
                stages.update(e["Stage IDs"])
        acc: dict[int, tuple[str, int]] = {}
        for e in events:
            if e["Event"] != "SparkListenerStageCompleted":
                continue
            info = e["Stage Info"]
            if info["Stage ID"] not in stages:
                continue
            for a in info.get("Accumulables", []):
                try:
                    v = int(a.get("Value") or 0)
                except (TypeError, ValueError):
                    continue
                prev = acc.get(a["ID"], (a["Name"], 0))[1]
                acc[a["ID"]] = (a["Name"], max(prev, v))
        sums: dict[str, int] = {}
        for name, v in acc.values():
            sums[name] = sums.get(name, 0) + v
        durations: dict[int, list[int]] = {}
        for e in events:
            if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                ti = e["Task Info"]
                durations.setdefault(e["Stage ID"], []).append(
                    ti["Finish Time"] - ti["Launch Time"])
        heavy = max(durations.values(), key=sum, default=[1])
        sums["_task_max_over_median"] = (
            max(heavy) / max(statistics.median(heavy), 1))
        return sums


class Tracer:
    """Times forced calls into the package, one job group per call."""

    def __init__(self, spark):
        self.spark = spark
        self.groups: dict[str, list[str]] = {}

    def time(self, name: str, fn) -> float:
        """Median wall of REPS calls of ``fn`` under job groups
        ``name.<rep>``."""
        walls = []
        for rep in range(REPS):
            g = f"{name}.{rep}"
            self.spark.sparkContext.setJobGroup(g, g)
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
            self.groups.setdefault(name, []).append(g)
        self.spark.sparkContext.setJobGroup("extbench", "untraced")
        return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _text_lines(extracted):
    """(doc_id, line_no, text) of the extracted text spans: the line table
    ``operators.fields`` reads (as ``plans.cascade`` builds it)."""
    from pyspark.sql import functions as F

    return extracted.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).where(F.col("s.kind") == "text").select(
        "doc_id", F.col("s.offset").alias("line_no"),
        F.col("s.text").alias("text"))


def trace_layers(spark, wl, ladder, tdir: str) -> tuple[dict, str]:
    """Every per-layer metric, name → (value, unit, samples), and the
    output directory of the ladder probe (checked by the caller)."""
    from angola_erp_ocr_spark.operators import fields
    from angola_erp_ocr_spark.plans import lineage, pipeline, snapshot

    tr = Tracer(spark)
    raw, media = wl.raw, wl.media
    m: dict = {}

    # scan + explode
    m["plans.pipeline.base_candidates_s"] = (
        tr.time("scan", lambda: _noop(pipeline.base_candidates(raw))),
        "s", REPS)
    m["plans.pipeline.span_rows"] = (
        pipeline.explode_spans(raw).count(), "count", 1)

    # OCR decode (the media branch up to normalized line candidates)
    decode_s = tr.time(
        "decode", lambda: _noop(pipeline.decoded_media_lines(raw, media)))
    m["operators.ocr.decode_s"] = (decode_s, "s", REPS)
    m["operators.ocr.pages"] = (
        pipeline.media_markers(raw).join(media, "media_ref").count(),
        "count", 1)

    # whole extraction; assembly = what scan and decode do not explain
    extract_s = tr.time(
        "extract", lambda: _noop(pipeline.extract(raw, media)))
    m["plans.pipeline.extract_s"] = (extract_s, "s", REPS)
    m["plans.pipeline.assembly_self_s"] = (
        extract_s - m["plans.pipeline.base_candidates_s"][0] - decode_s,
        "s", REPS)

    # lineage rows over the extraction (one row per partition)
    skew: list[float] = []

    def _lineage():
        rows = lineage.lineage_rows(pipeline.extract(raw, media),
                                    uuid.uuid4().hex[:8]).collect()
        ms = sorted(r["wall_ms"] for r in rows)
        skew.append(ms[-1] / max(statistics.median(ms), 1))

    m["plans.lineage.lineage_rows_s"] = (tr.time("lineage", _lineage), "s",
                                         REPS)
    m["plans.lineage.partition_wall_max_over_median"] = (
        statistics.median(skew), "ratio", REPS)

    # a materialized extraction feeds the commit and fields probes, so
    # they time their own layer and not the extraction again
    mat = os.path.join(tdir, "extracted")
    pipeline.extract(raw, media).write.mode("overwrite").parquet(mat)
    extracted = spark.read.parquet(mat)
    tables = iter(range(REPS))
    first = os.path.join(tdir, "t0")
    m["plans.snapshot.append_s"] = (tr.time(
        "append", lambda: snapshot.snapshot_append(
            extracted, os.path.join(tdir, f"t{next(tables)}"))), "s", REPS)
    mans = snapshot.committed_snapshots(first)
    m["plans.snapshot.commits"] = (len(mans), "count", 1)
    m["plans.snapshot.rows_written"] = (
        sum(x["n_rows"] for x in mans), "count", 1)
    m["plans.snapshot.resume_s"] = (tr.time(
        "resume", lambda: pipeline.resume_filter(
            raw, snapshot.read_snapshots(spark, first)).count()), "s", REPS)

    lines = _text_lines(extracted)
    m["operators.fields.header_fields_s"] = (tr.time(
        "fields", lambda: _noop(fields.extract_header_fields(lines))),
        "s", REPS)
    m["operators.fields.lines"] = (lines.count(), "count", 1)

    ladder_out = os.path.join(tdir, "ladder")
    m.update(_ladder_layers(spark, tr, ladder, ladder_out))

    # operator metrics from the event log (last rep of each call)
    log = EventLog(spark)
    dec = log.group_metrics(tr.groups["decode"][-1])
    m["operators.ocr.python_init_s"] = (
        dec.get("time to initialize Python workers", 0) / 1000, "s", 1)
    m["operators.ocr.python_run_s"] = (
        dec.get("time to run Python workers", 0) / 1000, "s", 1)
    m["operators.ocr.arrow_bytes_in"] = (
        dec.get("data sent to Python workers", 0), "bytes", 1)
    m["operators.ocr.arrow_bytes_out"] = (
        dec.get("data returned from Python workers", 0), "bytes", 1)
    ext = log.group_metrics(tr.groups["extract"][-1])
    m["plans.pipeline.shuffle_bytes"] = (
        ext.get("internal.metrics.shuffle.write.bytesWritten", 0), "bytes", 1)
    m["plans.pipeline.join_build_bytes"] = (
        ext.get("data size of build side", 0), "bytes", 1)
    m["plans.pipeline.sort_fallback_tasks"] = (
        ext.get("number of sort fallback tasks", 0), "count", 1)
    m["plans.pipeline.task_max_over_median"] = (
        ext["_task_max_over_median"], "ratio", 1)
    return m, ladder_out


def _ladder_layers(spark, tr: Tracer, ladder, out: str) -> dict:
    """Cascade metrics from one committed retry ladder over the ladder
    probe's docs: each rung's input docs are counted by wrapping the
    ``extract`` that ``plans.cascade`` calls, then the keep-best merge of
    the committed passes is timed alone."""
    from pyspark.sql import functions as F

    from angola_erp_ocr_spark.plans import cascade, snapshot

    rung_docs: list[int] = []
    real_extract = cascade.extract

    def counting_extract(documents, *a, **kw):
        rung_docs.append(documents.count())
        return real_extract(documents, *a, **kw)

    cascade.extract = counting_extract
    try:
        final = cascade.cascade_ladder_committed(
            spark, ladder.raw, ladder.media, out)
    finally:
        cascade.extract = real_extract
    recovered = final.where(F.col("must_ok")).count()
    rung_docs += [0] * (4 - len(rung_docs))
    m = {f"plans.cascade.rung{p}_docs": (n, "count", 1)
         for p, n in enumerate(rung_docs, 1)}
    m["plans.cascade.recovered_per_tried"] = (
        recovered / max(sum(rung_docs), 1), "ratio", 1)
    passes = os.path.join(out, "fields_passes")
    m["plans.cascade.merge_s"] = (tr.time(
        "merge", lambda: _noop(cascade.merge_retry_fields(
            snapshot.read_snapshots(spark, passes),
            cascade.LADDER_FIELD_COLS,
            must_fields=cascade.LADDER_MUST_FIELDS))), "s", REPS)
    return m
