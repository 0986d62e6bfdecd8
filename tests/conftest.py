"""Shared pytest fixtures: one SparkSession per test session, plus
reference-shaped fixture frames (FIXTURES.md)."""

from __future__ import annotations

import datetime as dt

import pytest

from evidence_images_etl_airflow_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        "tests",
        cpus=4,
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``run(group, fn)`` calls ``fn()`` under job group ``group`` and
    returns ``(started, grouped)``: the ids of every job started during
    the call, and the ids Spark files under ``group``."""
    sc = spark.sparkContext
    ssc = sc._jsc.sc()

    def newest_job() -> int:
        ssc.listenerBus().waitUntilEmpty()
        jobs = ssc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def run(group: str, fn) -> tuple[set[int], set[int]]:
        last = newest_job()
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        started = set(range(last + 1, newest_job() + 1))
        return started, set(sc.statusTracker().getJobIdsForGroup(group))

    return run


def _ts(s: str | None):
    return dt.datetime.fromisoformat(s) if s else None


@pytest.fixture(scope="session")
def irmq_raw(spark):
    """IRMQ evidence-image export per FIXTURES.md §1 — source casing,
    'True'/'False' strings, empty-string URLs, comma lists, NULLs,
    duplicate PKs, and an extra junk column."""
    rows = [
        # (SessionUID, SceneUID, SceneType, SubSceneType, EvidenceImageURL,
        #  EvidenceImageName, CreatedOnTime, ReExportStatus, ReExportTime,
        #  ReProcessedStatus, ReProcessedTime, _junk)
        ("s1", "c1", "Shelf", "Main", "http://img/", "a.jpg", _ts("2023-08-16T10:00:00"), "True", None, "False", None, "x"),
        ("s1", "c2", "Shelf", "Main", "http://img/", "a.jpg,b.jpg,c.jpg", _ts("2023-08-16T11:00:00"), "False", None, "True", _ts("2023-08-17T00:00:00"), "y"),
        ("s2", "c3", "Cooler", "Side", "", "d.jpg", None, "True", None, "False", None, "z"),  # empty URL -> filtered
        ("s2", "c4", "Cooler", "Side", "http://img2/", "e.jpg,f.jpg", _ts("2023-08-16T12:00:00"), "False", None, "False", None, "w"),
        ("s1", "c1", "Shelf", "DUP", "http://img/", "dup.jpg", _ts("2023-08-16T13:00:00"), "True", None, "True", None, "d"),  # duplicate PK
        ("s3", "c5", "Window", "Front", "http://img3/", "g.jpg", _ts("2023-08-16T14:00:00"), "1", None, "0", None, "v"),  # already numeric
    ]
    cols = [
        "SessionUID", "SceneUID", "SceneType", "SubSceneType",
        "EvidenceImageURL", "EvidenceImageName", "CreatedOnTime",
        "ReExportStatus", "ReExportTime", "ReProcessedStatus",
        "ReProcessedTime", "_extra_junk_col",
    ]
    schema = (
        "SessionUID string, SceneUID string, SceneType string, SubSceneType string, "
        "EvidenceImageURL string, EvidenceImageName string, CreatedOnTime timestamp, "
        "ReExportStatus string, ReExportTime timestamp, ReProcessedStatus string, "
        "ReProcessedTime timestamp, _extra_junk_col string"
    )
    return spark.createDataFrame([dict(zip(cols, r)) for r in rows], schema=schema)


@pytest.fixture(scope="session")
def irsession_raw(spark):
    """IRSession export per FIXTURES.md §2 (subset of columns filled)."""
    rows = [
        ("s1", "2023-08-16T09:30:00", "2023-08-16T10:30:00", "Complete", "OUT1", "CLI1", "Outlet One", "ken", "u1"),
        ("s2", "2023-08-16T11:00:00", "2023-08-16T11:45:00", "Cancelled", "OUT2", "CLI1", "Outlet Two", "bwa", "u2"),
        ("s3", "2023-08-16T23:50:00", "2023-08-17T00:20:00", "Complete", "OUT3", "CLI2", "Outlet Three", "eth", "u3"),  # spans midnight
    ]
    cols = [
        "Sessionuid", "sessionstartdatetime", "sessionenddatetime",
        "sessionstatus", "outletcode", "clientcode", "outletname",
        "countrycode", "userid",
    ]
    data = []
    for r in rows:
        d = dict(zip(cols, r))
        d["sessionstartdatetime"] = _ts(d["sessionstartdatetime"])
        d["sessionenddatetime"] = _ts(d["sessionenddatetime"])
        # remaining keep-list columns as NULLs / defaults
        d.update(
            programid=1, programname="P", programitemid=2, programitemname="PI",
            subclientcode="SUB", userprofile="agent", latitude=1.0, longitude=2.0,
            cancelcallnote=None, cancelcallreason=None, cancelevidenceimageurl=None,
            cancelevidenceimagename=None, sessionendlatitude=1.0, sessionendlongitude=2.0,
        )
        data.append(d)
    schema = (
        "Sessionuid string, sessionstartdatetime timestamp, sessionenddatetime timestamp, "
        "sessionstatus string, outletcode string, clientcode string, outletname string, "
        "countrycode string, userid string, programid int, programname string, "
        "programitemid int, programitemname string, subclientcode string, "
        "userprofile string, latitude double, longitude double, cancelcallnote string, "
        "cancelcallreason string, cancelevidenceimageurl string, "
        "cancelevidenceimagename string, sessionendlatitude double, sessionendlongitude double"
    )
    return spark.createDataFrame(data, schema=schema)
