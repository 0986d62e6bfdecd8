"""The ``ingest_upsert`` workload: the reference's own batch job (EP1 plus the
``image_urls`` view), run batch by batch into empty parquet targets.

The seed generates IRMQ and IRSession parquet for 10 country sources per
batch, shaped as FIXTURES.md sections 1-2: duplicate primary keys within a
batch, rows re-delivered from the previous batch, empty and NULL image URLs,
comma-joined image lists, 'True'/'False' next to '1'/'0', NULL timestamps,
orphan evidence rows, one empty source file per batch and junk columns that
some files omit. The expected targets and views are computed by DuckDB
straight from the generated files, never through the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from evidence_images_etl_airflow_spark.operators.upsert import dedup_first_wins
from evidence_images_etl_airflow_spark.plans.evidence_pipeline import (
    transform_evidence_images,
    transform_sessions,
)
from evidence_images_etl_airflow_spark.plans.image_urls import image_urls
from evidence_images_etl_airflow_spark.schemas import EVIDENCE_IMAGES_PK
from evidence_images_etl_airflow_spark.sinks.writers import (
    idempotent_append_parquet,
    merge_into_parquet,
)
from evidence_images_etl_airflow_spark.sources.parquet_source import SourceConfig, scan_sources

COUNTRIES = ("ken", "bwa", "eth", "tza", "moz", "uga", "zam", "nam", "gha", "cbl")
BATCHES = 3
SESSIONS_PER_SOURCE = 60

TS = pa.timestamp("us", tz="UTC")
IRMQ = pa.schema(
    [
        ("SessionUID", pa.string()),
        ("SceneUID", pa.string()),
        ("SceneType", pa.string()),
        ("SubSceneType", pa.string()),
        ("EvidenceImageURL", pa.string()),
        ("EvidenceImageName", pa.string()),
        ("CreatedOnTime", TS),
        ("ReExportStatus", pa.string()),
        ("ReExportTime", TS),
        ("ReProcessedStatus", pa.string()),
        ("ReProcessedTime", TS),
    ]
)
SESSION = pa.schema(
    [
        ("Sessionuid", pa.string()),
        ("sessionstartdatetime", TS),
        ("sessionenddatetime", TS),
        ("programid", pa.int32()),
        ("programname", pa.string()),
        ("programitemid", pa.int32()),
        ("programitemname", pa.string()),
        ("clientcode", pa.string()),
        ("subclientcode", pa.string()),
        ("outletcode", pa.string()),
        ("outletname", pa.string()),
        ("countrycode", pa.string()),
        ("userid", pa.string()),
        ("userprofile", pa.string()),
        ("sessionstatus", pa.string()),
        ("latitude", pa.float64()),
        ("longitude", pa.float64()),
        ("cancelcallnote", pa.string()),
        ("cancelcallreason", pa.string()),
        ("cancelevidenceimageurl", pa.string()),
        ("cancelevidenceimagename", pa.string()),
        ("sessionendlatitude", pa.float64()),
        ("sessionendlongitude", pa.float64()),
    ]
)
JUNK = (("_extra_junk_col", 0.6), ("_extra_junk_col2", 0.3))
EPOCH = dt.datetime(2023, 8, 1, tzinfo=dt.timezone.utc)


def _uid(r: random.Random) -> str:
    return str(uuid.UUID(int=r.getrandbits(128), version=4))


def _ts(r: random.Random, null_frac: float = 0.0):
    if r.random() < null_frac:
        return None
    return EPOCH + dt.timedelta(seconds=r.randrange(15 * 86400))


def _bool_str(r: random.Random) -> str:
    return r.choice(("True", "False", "True", "False", "1", "0"))


def _session(r: random.Random, country: str) -> dict:
    start = _ts(r)
    status = r.choices(("Complete", "Cancelled", "InProgress"), (70, 20, 10))[0]
    cancelled = status == "Cancelled"
    return {
        "Sessionuid": _uid(r),
        "sessionstartdatetime": start,
        "sessionenddatetime": start + dt.timedelta(minutes=r.randrange(5, 240)),
        "programid": r.randrange(1, 40),
        "programname": f"program-{r.randrange(40)}",
        "programitemid": r.randrange(1, 400),
        "programitemname": f"item-{r.randrange(400)}",
        "clientcode": f"CLI{r.randrange(12)}",
        "subclientcode": f"SUB{r.randrange(30)}",
        "outletcode": f"OUT{r.randrange(5000)}",
        "outletname": f"Outlet {r.randrange(5000)}",
        "countrycode": country,
        "userid": f"u{r.randrange(800)}",
        "userprofile": r.choice(("merchandiser", "auditor", "supervisor")),
        "sessionstatus": status,
        "latitude": r.uniform(-30, 10),
        "longitude": r.uniform(10, 45),
        "cancelcallnote": "closed " * r.randrange(1, 30) if cancelled else None,
        "cancelcallreason": r.choice(("closed", "refused", "no stock")) if cancelled else None,
        "cancelevidenceimageurl": f"https://img.{country}.example/cancel/" if cancelled else None,
        "cancelevidenceimagename": f"c{r.randrange(10**6)}.jpg" if cancelled else None,
        "sessionendlatitude": r.uniform(-30, 10),
        "sessionendlongitude": r.uniform(10, 45),
    }


def _scene(r: random.Random, session_uid: str, country: str) -> dict:
    u = r.random()
    url = "" if u < 0.10 else None if u < 0.11 else f"https://img.{country}.example/{r.randrange(9)}" + r.choice(("/", ""))
    names = ",".join(f"{r.randrange(10**7)}.jpg" for _ in range(r.choice((1, 1, 2, 3, 4))))
    return {
        "SessionUID": session_uid,
        "SceneUID": _uid(r),
        "SceneType": r.choice(("Shelf", "Cooler", "Window", "Display")),
        "SubSceneType": r.choice(("Main", "Side", "Front", "Back")),
        "EvidenceImageURL": url,
        "EvidenceImageName": names,
        "CreatedOnTime": _ts(r, 0.05),
        "ReExportStatus": _bool_str(r),
        "ReExportTime": _ts(r, 0.5),
        "ReProcessedStatus": _bool_str(r),
        "ReProcessedTime": _ts(r, 0.5),
    }


def _write(r: random.Random, rows: list[dict], schema: pa.Schema, path: str) -> int:
    r.shuffle(rows)
    for col, share in JUNK:
        if r.random() < share:
            schema = schema.append(pa.field(col, pa.string()))
            for row in rows:
                row[col] = f"junk{r.randrange(100)}"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return os.path.getsize(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class IngestWorkload:
    def __init__(self, rng, work: str):
        self.r = random.Random(int(rng.integers(2**63)))
        self.input = os.path.join(work, "input")
        self.targets = os.path.join(work, "targets")
        self.ev_path = os.path.join(self.targets, "evidence_images")
        self.sess_path = os.path.join(self.targets, "sessions")
        self.names = [f"batch{b}" for b in range(BATCHES)]

    def _dirs(self, b: int, kind: str) -> list[str]:
        """One source directory per country, as the reference's containers."""
        return [os.path.join(self.input, f"b{b}", c, kind) for c in COUNTRIES]

    def _file(self, b: int, country: str, kind: str) -> str:
        return os.path.join(self.input, f"b{b}", country, kind, "part-0.parquet")

    def generate(self) -> None:
        """Write the seed's batches and compute, per batch, the expected
        results with DuckDB over the written files."""
        r = self.r
        prev_sessions = {c: [] for c in COUNTRIES}
        prev_scenes = {c: [] for c in COUNTRIES}
        self.input_bytes = []
        for b in range(BATCHES):
            nbytes = 0
            empty = COUNTRIES[(3 * b) % len(COUNTRIES)]
            for c in COUNTRIES:
                sessions = [_session(r, c) for _ in range(SESSIONS_PER_SOURCE)]
                scenes = [
                    _scene(r, s["Sessionuid"], c) for s in sessions for _ in range(r.randrange(1, 5))
                ]
                scenes += [_scene(r, _uid(r), c) for _ in range(len(scenes) // 50)]  # orphans
                # duplicate keys inside the batch: sessions as exact copies,
                # scenes with other content under the same (session, scene)
                dup_s = [dict(s) for s in r.sample(sessions, len(sessions) // 50)]
                dup_e = [
                    {**e, "SubSceneType": "DUP", "EvidenceImageName": f"dup{r.randrange(10**6)}.jpg"}
                    for e in r.sample(scenes, len(scenes) // 20)
                ]
                # re-delivery of part of the previous batch
                re_s = [dict(s) for s in r.sample(prev_sessions[c], len(prev_sessions[c]) // 10)]
                re_e = [dict(e) for e in r.sample(prev_scenes[c], len(prev_scenes[c]) // 10)]
                prev_sessions[c], prev_scenes[c] = sessions, scenes
                irmq = [] if c == empty else scenes + dup_e + re_e
                nbytes += _write(r, sessions + dup_s + re_s, SESSION, self._file(b, c, "IRSession"))
                nbytes += _write(r, irmq, IRMQ, self._file(b, c, "IRMQ"))
            self.input_bytes.append(nbytes)
        self._expect()

    def _expect(self) -> None:
        con = duckdb.connect()

        def scan(kind: str, batches) -> str:
            files = ",".join(f"'{d}/part-0.parquet'" for b in batches for d in self._dirs(b, kind))
            return f"read_parquet([{files}], union_by_name=true)"

        def rows(sql: str) -> list[tuple]:
            return con.execute(sql).fetchall()

        self.expected = []
        for b in range(BATCHES):
            upto = range(b + 1)
            # Spark's filter drops NULL URLs as well as empty ones, as SQL's <> does
            ev = f"SELECT DISTINCT SessionUID AS s, SceneUID AS c FROM {scan('IRMQ', upto)} WHERE EvidenceImageURL <> ''"
            complete = f"SELECT DISTINCT Sessionuid AS s FROM {scan('IRSession', upto)} WHERE sessionstatus = 'Complete'"
            self.expected.append(
                {
                    "evidence": set(rows(ev)),
                    "image_urls": set(rows(f"SELECT s, c FROM ({ev}) JOIN ({complete}) USING (s)")),
                    "sessions": rows(f"SELECT count(DISTINCT Sessionuid) FROM {scan('IRSession', upto)}")[0][0],
                    "offered": rows(f"SELECT count(*) FROM {scan('IRMQ', [b])} WHERE EvidenceImageURL <> ''")[0][0],
                }
            )
        con.close()

    def reset(self) -> None:
        shutil.rmtree(self.targets, ignore_errors=True)

    def run_op(self, spark, tracer, p: int, b: int) -> dict:
        """Batch ``b`` of pass ``p``, from ``scan_sources`` to the collected
        ``image_urls`` view; batches run in order after ``reset``."""
        op = f"p{p}.b{b}"
        tracer.set_group(op)
        rec = {"name": self.names[b], "op": op, "result": None, "error": None, "batch": b}
        t0 = time.perf_counter()
        try:
            with tracer.span("batch", "op", op):
                with tracer.span("sources.scan_sources", "build", op):
                    irmq = scan_sources(spark, [SourceConfig(d) for d in self._dirs(b, "IRMQ")])
                with tracer.span("sources.scan_sources", "build", op):
                    sess = scan_sources(spark, [SourceConfig(d) for d in self._dirs(b, "IRSession")])
                with tracer.span("plans.transform", "build", op):
                    ev = transform_evidence_images(irmq)
                    se = transform_sessions(sess)
                with tracer.span("sinks.idempotent_append_parquet", "action", op):
                    rec["appended"] = idempotent_append_parquet(spark, ev, self.ev_path, EVIDENCE_IMAGES_PK)
                with tracer.span("operators.upsert.dedup_first_wins", "build", op):
                    se = dedup_first_wins(se, ["sessionuid"])
                with tracer.span("sinks.merge_into_parquet", "action", op):
                    merge_into_parquet(spark, se, self.sess_path, ["sessionuid"])
                with tracer.span("plans.image_urls", "build", op):
                    view = image_urls(spark.read.parquet(self.ev_path), spark.read.parquet(self.sess_path))
                with tracer.span("plans.image_urls.plan", "plan", op):
                    view._jdf.queryExecution().executedPlan()
                with tracer.span("plans.image_urls.exec", "action", op):
                    rec["result"] = view.toPandas()
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["s"] = time.perf_counter() - t0
        rec["ev_bytes"], rec["sess_bytes"] = dir_bytes(self.ev_path), dir_bytes(self.sess_path)
        return rec

    def check(self, ops: list[dict]) -> None:
        """Per batch: the image_urls keys equal DuckDB's. After the pass's
        last batch (the pass may have been cut short): the targets hold
        exactly the keys expected so far, each once, and the append sink
        reported one row per new key."""
        for rec in ops:
            pdf = rec.pop("result")
            if rec["error"]:
                rec["ok"] = False
                continue
            exp = self.expected[rec["batch"]]
            got = set(zip(pdf["sessionuid"], pdf["sceneuid"]))
            rec["ok"] = len(pdf) == len(got) == len(exp["image_urls"]) and got == exp["image_urls"]
            if not rec["ok"]:
                rec["error"] = f"output check: image_urls {len(pdf)} rows, {len(got)} keys, expected {len(exp['image_urls'])}"
        last = ops[-1]
        if not last["ok"]:
            return
        exp = self.expected[last["batch"]]
        con = duckdb.connect()
        try:
            ev = con.execute(f"SELECT sessionuid, sceneuid FROM read_parquet('{self.ev_path}/*.parquet')").fetchall()
            sess = con.execute(f"SELECT count(*), count(DISTINCT sessionuid) FROM read_parquet('{self.sess_path}/*.parquet')").fetchone()
        finally:
            con.close()
        problems = []
        if len(ev) != len(set(ev)):
            problems.append(f"evidence_images has {len(ev) - len(set(ev))} duplicate keys")
        if set(ev) != exp["evidence"]:
            problems.append(f"evidence_images keys {len(set(ev))} != expected {len(exp['evidence'])}")
        appended = sum(r.get("appended", 0) for r in ops)
        if appended != len(exp["evidence"]):
            problems.append(f"the append sink reported {appended} rows for {len(exp['evidence'])} new keys")
        if sess != (exp["sessions"], exp["sessions"]):
            problems.append(f"sessions rows/distinct {sess} != expected {exp['sessions']}")
        if problems:
            last["ok"], last["error"] = False, "target check: " + "; ".join(problems)

    def pass_layers(self, ops: list[dict]) -> dict:
        """Sink and source counters of one pass."""
        offered = sum(self.expected[r["batch"]]["offered"] for r in ops)
        appended = sum(r.get("appended", 0) for r in ops)
        written, ev_before = 0, 0
        for r in ops:
            # the append grows evidence_images; MERGE rewrites sessions whole
            written += r["ev_bytes"] - ev_before + r["sess_bytes"]
            ev_before = r["ev_bytes"]
        in_bytes = sum(self.input_bytes[r["batch"]] for r in ops)
        return {
            "sources.input_bytes": in_bytes,
            "sinks.rows_offered": offered,
            "sinks.rows_appended": appended,
            "sinks.append_useful_frac": appended / offered,
            "sinks.bytes_written": written,
            "sinks.write_amp": written / in_bytes,
            "stored_bytes_per_input_byte": (ops[-1]["ev_bytes"] + ops[-1]["sess_bytes"]) / in_bytes,
        }

    def close(self) -> None:
        pass
