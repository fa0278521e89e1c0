"""S4-S8 write-side semantics (SURVEY.md §2.1)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from haensel_ams_data_engineer_challenge_spark.operators import sinks
from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (
    manifest_compact,
    manifest_insert_if_absent,
    read_manifest_sink,
)


def test_create_and_verify_tables(spark, tmp_path):
    base = str(tmp_path / "warehouse")
    sinks.create_tables(spark, base)
    schemas = sinks.verify_tables(spark, base)
    assert set(schemas) == set(sinks.ATTRIBUTION_DDL)
    # IF NOT EXISTS: a second run must not clobber data
    df = spark.createDataFrame([("c1", "s1", 0.5)], "conv_id string, session_id string, ihc double")
    df.write.mode("append").parquet(f"{base}/attribution_customer_journey")
    sinks.create_tables(spark, base)
    assert spark.read.parquet(f"{base}/attribution_customer_journey").count() == 1


def test_insert_if_absent_is_insert_or_ignore(spark, tmp_path):
    path = str(tmp_path / "acj")
    rows1 = spark.createDataFrame(
        [("c1", "s1", 0.4), ("c1", "s2", 0.6)],
        "conv_id string, session_id string, ihc double",
    )
    assert manifest_insert_if_absent(spark, rows1, path, ["conv_id", "session_id"]) == 2
    # re-run with overlap + one new row: only the new row lands
    rows2 = spark.createDataFrame(
        [("c1", "s1", 9.9), ("c2", "s3", 1.0)],
        "conv_id string, session_id string, ihc double",
    )
    assert manifest_insert_if_absent(spark, rows2, path, ["conv_id", "session_id"]) == 1
    got = {
        (r.conv_id, r.session_id): r.ihc
        for r in read_manifest_sink(spark, path).collect()
    }
    assert got[("c1", "s1")] == 0.4  # original kept, duplicate ignored
    assert len(got) == 3


def test_overwrite_partitions_is_delete_and_replace(spark, tmp_path):
    path = str(tmp_path / "report")
    v1 = spark.createDataFrame(
        [("d1", "a", 1.0), ("d2", "b", 2.0)], "date string, ch string, v double"
    )
    sinks.overwrite_partitions(v1, path, "date")
    # rebuild only d2 with new content; d1 must survive
    v2 = spark.createDataFrame([("d2", "b", 9.0)], "date string, ch string, v double")
    sinks.overwrite_partitions(v2, path, "date")
    got = {(r.date, r.ch): r.v for r in spark.read.parquet(path).collect()}
    assert got == {("d1", "a"): 1.0, ("d2", "b"): 9.0}


def test_export_csv_single_file_with_header(spark, tmp_path):
    path = str(tmp_path / "out_csv")
    df = spark.createDataFrame([("x", 1.5)], "channel_name string, cost double")
    sinks.export_csv(df, path)
    files = list(Path(path).glob("*.csv"))
    assert len(files) == 1
    lines = files[0].read_text().strip().splitlines()
    assert lines[0] == "channel_name,cost"
    assert lines[1] == "x,1.5"


def test_export_json_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out_json")
    df = spark.createDataFrame([("c1", 0.25)], "conv_id string, ihc double")
    sinks.export_json(df, path)
    rows = [
        json.loads(line)
        for f in Path(path).glob("*.json")
        for line in f.read_text().strip().splitlines()
    ]
    assert rows == [{"conv_id": "c1", "ihc": 0.25}]


def test_journeys_as_api_payload_shape(spark, sf_dir):
    from haensel_ams_data_engineer_challenge_spark.attribution import model as M
    from haensel_ams_data_engineer_challenge_spark.operators.ihc import (
        flag_conversion_session,
    )

    flagged = flag_conversion_session(M.journeys(spark, sf_dir))
    payload = sinks.journeys_as_api_payload(flagged).limit(5).collect()
    for row in payload:
        records = json.loads(row.journey_json)
        assert all(r["conversion_id"] == row.conv_id for r in records)
        assert sum(r["conversion"] for r in records) == 1  # exactly one flag
        ts = [r["timestamp"] for r in records]
        assert ts == sorted(ts)  # journey order (db_utils.py:176)
        assert set(records[0]) == {
            "conversion_id", "session_id", "timestamp", "channel_label",
            "holder_engagement", "closer_engagement", "conversion",
            "impression_interaction",
        }


def test_insert_if_absent_rejects_null_keys(spark, tmp_path):
    """NULL-key rows can never match a left_anti condition, so keeping
    them would re-append on every run — they are rejected instead and
    the sink stays idempotent (ADVICE r01)."""
    path = str(tmp_path / "acj_null")
    rows = spark.createDataFrame(
        [("c1", "s1", 0.4), (None, "s2", 0.6), ("c2", None, 1.0)],
        "conv_id string, session_id string, ihc double",
    )
    assert manifest_insert_if_absent(spark, rows, path, ["conv_id", "session_id"]) == 1
    # replay: nothing new, NULL rows not re-appended
    assert manifest_insert_if_absent(spark, rows, path, ["conv_id", "session_id"]) == 0
    assert read_manifest_sink(spark, path).count() == 1


def test_export_csv_golden_cells_null_metrics_empty(spark, tmp_path):
    """Reference fidelity: NULL CPO/ROAS render as EMPTY cells exactly
    like channel_reporting.csv rows 2-4 (e.g.
    'Affiliate & Partnerships,2023-08-29,11.795,0.0,0.0,,0.0') —
    asserted on the written CSV text, not parsed values."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Affiliate & Partnerships", "2023-08-29", 11.795, 0.0, 0.0)],
        "channel_name string, date string, cost double, ihc double, ihc_revenue double",
    ).select(
        "*",
        F.when(F.col("ihc") != 0.0, F.col("cost") / F.col("ihc")).alias("CPO"),
        F.when(F.col("cost") != 0.0, F.col("ihc_revenue") / F.col("cost")).alias("ROAS"),
    )
    path = str(tmp_path / "golden_csv")
    sinks.export_csv(df, path)
    [f] = list(Path(path).glob("*.csv"))
    lines = f.read_text().strip().splitlines()
    assert lines[0] == "channel_name,date,cost,ihc,ihc_revenue,CPO,ROAS"
    # byte-identical to channel_reporting.csv line 2
    assert lines[1] == "Affiliate & Partnerships,2023-08-29,11.795,0.0,0.0,,0.0"


def test_export_csv_guard_branches(spark, tmp_path):
    """Past max_single_file_rows the sink warns and writes partitioned
    CSV instead of serializing through one coalesce(1) task."""
    import warnings

    df = spark.createDataFrame(
        [(str(i), float(i)) for i in range(8)], "k string, v double"
    ).repartition(4)
    small = str(tmp_path / "small_csv")
    assert sinks.export_csv(df, small, max_single_file_rows=100) == "single"
    assert len(list(Path(small).glob("*.csv"))) == 1

    big = str(tmp_path / "big_csv")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        mode = sinks.export_csv(df, big, max_single_file_rows=3)
    assert mode == "partitioned"
    assert any("max_single_file_rows" in str(x.message) for x in w)
    parts = list(Path(big).glob("*.csv"))
    assert len(parts) > 1  # not funneled through one task
    rows = [
        line
        for f in parts
        for line in f.read_text().strip().splitlines()
        if line and line != "k,v"
    ]
    assert len(rows) == 8

    # n_rows short-circuits the count (caller already knows)
    again = str(tmp_path / "again_csv")
    assert sinks.export_csv(df, again, max_single_file_rows=3, n_rows=2) == "single"


# ---------------------------------------------------------------------------
# writer lease on the keyed sink + lease-guarded compaction
# ---------------------------------------------------------------------------


def _df(spark, ids):
    return spark.createDataFrame(
        [(str(i), float(i)) for i in ids], "k string, v double"
    )


def test_writer_lease_blocks_concurrent_insert(spark, tmp_path):
    """Two interleaved inserts on one path: the second refuses loudly
    (ConcurrentWriterError) while the first's lease is held, and
    succeeds after release — no duplicate keys ever."""
    path = str(tmp_path / "sink")
    assert manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"]) == 2
    # the lease is released after a successful insert
    assert not Path(path + "__lease").exists()

    # writer A holds the lease mid-window; writer B must refuse
    token = sinks.acquire_writer_lease(spark, path)
    with pytest.raises(sinks.ConcurrentWriterError, match="another writer"):
        manifest_insert_if_absent(spark, _df(spark, [2, 3]), path, ["k"])
    # refusal appended nothing
    assert read_manifest_sink(spark, path).count() == 2
    sinks.release_writer_lease(spark, path, token)
    assert manifest_insert_if_absent(spark, _df(spark, [2, 3]), path, ["k"]) == 1
    got = sorted(r["k"] for r in read_manifest_sink(spark, path).collect())
    assert got == ["1", "2", "3"]


def test_writer_lease_stale_takeover(spark, tmp_path):
    """A lease older than the TTL belongs to a crashed writer: the next
    insert takes it over (with a warning) instead of deadlocking."""
    import os
    import time

    path = str(tmp_path / "sink")
    sinks.acquire_writer_lease(spark, path)  # crashed writer: no release
    lease = Path(path + "__lease")
    old = time.time() - (sinks.LEASE_TTL_MS / 1000 + 60)
    os.utime(lease, (old, old))
    with pytest.warns(UserWarning, match="stale writer lease"):
        n = manifest_insert_if_absent(spark, _df(spark, [7]), path, ["k"])
    assert n == 1
    assert not lease.exists()  # the takeover's own lease was released


def test_release_lease_verifies_token(spark, tmp_path):
    """A writer that lost its lease to a takeover must not release the
    new owner's lease."""
    path = str(tmp_path / "sink")
    sinks.acquire_writer_lease(spark, path)
    lease = Path(path + "__lease")
    with pytest.warns(UserWarning, match="taken over"):
        sinks.release_writer_lease(spark, path, "not-my-token")
    assert lease.exists()


def test_compact_sink_row_invariant_and_file_count(spark, tmp_path):
    """Compaction: identical row set, fewer committed files, lease
    released, no staging dir left, sink still insertable afterwards."""
    from haensel_ams_data_engineer_challenge_spark.operators import (
        manifest_sink as M,
    )

    path = str(tmp_path / "sink")
    for batch in ([1, 2], [3, 4], [5], [6, 7, 8]):
        manifest_insert_if_absent(spark, _df(spark, batch), path, ["k"])
    files_before = len(M._resolve_latest(spark, path)[1]["files"])
    before = sorted(map(tuple, read_manifest_sink(spark, path).collect()))
    n = manifest_compact(spark, path, target_partitions=1)
    assert n == 8
    assert sorted(map(tuple, read_manifest_sink(spark, path).collect())) == before
    files_after = len(M._resolve_latest(spark, path)[1]["files"])
    assert files_after == 1 < files_before
    assert not Path(path + "__lease").exists()
    assert [p.name for p in tmp_path.iterdir()] == ["sink"]
    # still a normal sink afterwards
    assert manifest_insert_if_absent(spark, _df(spark, [8, 9]), path, ["k"]) == 1


# ---------------------------------------------------------------------------
# lease renewal/heartbeat, TOCTOU-safe takeover, pluggable
# conditional-put backend
# ---------------------------------------------------------------------------


def test_renew_writer_lease_touch_and_token_check(spark, tmp_path):
    """Renewal bumps mtime so a live writer past the TTL stays fresh;
    a renewal with the wrong token returns False and touches nothing."""
    import os
    import time

    path = str(tmp_path / "sink")
    token = sinks.acquire_writer_lease(spark, path)
    lease = Path(path + "__lease")
    # age the lease past the TTL, then renew: it must look fresh again
    old = time.time() - (sinks.LEASE_TTL_MS / 1000 + 60)
    os.utime(lease, (old, old))
    assert sinks.renew_writer_lease(spark, path, token) is True
    with pytest.raises(sinks.ConcurrentWriterError):
        sinks.acquire_writer_lease(spark, path)
    # wrong token: no renewal, no touch
    os.utime(lease, (old, old))
    assert sinks.renew_writer_lease(spark, path, "not-mine") is False
    assert os.path.getmtime(lease) == pytest.approx(old, abs=2)
    sinks.release_writer_lease(spark, path, token)


def test_hold_writer_lease_heartbeat_outlives_ttl(spark, tmp_path):
    """A writer holding the lease LONGER than the TTL is never treated
    as stale: the heartbeat renews at TTL/3 (the round-11 fix for the
    fixed-TTL takeover race on legitimate long jobs)."""
    import time

    path = str(tmp_path / "sink")
    with sinks.hold_writer_lease(spark, path, ttl_ms=1200):
        time.sleep(3.0)  # 2.5x the TTL; ~7 heartbeats
        with pytest.raises(sinks.ConcurrentWriterError, match="fresh"):
            sinks.acquire_writer_lease(spark, path, ttl_ms=1200)
    assert not Path(path + "__lease").exists()


def test_takeover_claim_verifies_freshness(spark, tmp_path):
    """The TOCTOU guard: a taker whose pre-claim stat said 'stale' but
    whose CLAIMED file turns out fresh (the owner renewed / a racer
    re-created in between) must restore the lease and refuse — a live
    writer's lease is never destroyed."""
    path = str(tmp_path / "sink")
    token = sinks.acquire_writer_lease(spark, path)

    class LyingStat(sinks.HadoopLeaseBackend):
        """Lies 'stale' on the first stat (the pre-claim check), then
        tells the truth — reproducing the stat-vs-rename interleaving."""

        def __init__(self, spark):
            super().__init__(spark)
            self.calls = 0

        def stat_mtime_ms(self, p):
            self.calls += 1
            if self.calls == 1:
                return 0
            return super().stat_mtime_ms(p)

    with pytest.raises(sinks.ConcurrentWriterError, match="renewed"):
        sinks.acquire_writer_lease(spark, path, backend=LyingStat(spark))
    # the original lease survived, same token, no takeover leftovers
    lease = Path(path + "__lease")
    assert lease.exists()
    assert lease.read_text() == token
    assert not list(Path(str(tmp_path)).glob("*takeover*"))
    sinks.release_writer_lease(spark, path, token)
    assert not lease.exists()


class _FakeConditionalPutBackend:
    """In-memory stand-in for an object store with conditional put
    (S3 If-None-Match): create_exclusive is the conditional PUT, touch
    is a token-guarded re-put — the documented escape hatch for stores
    where Hadoop create(overwrite=false) is best-effort."""

    def __init__(self):
        self.objs: dict[str, tuple[str, int]] = {}
        self.puts = 0

    def create_exclusive(self, path, token):
        self.puts += 1
        if path in self.objs:
            return False  # 412 Precondition Failed
        self.objs[path] = (token, self.now_ms())
        return True

    def stat_mtime_ms(self, path):
        hit = self.objs.get(path)
        return None if hit is None else hit[1]

    def read_token(self, path):
        hit = self.objs.get(path)
        return None if hit is None else hit[0]

    def rename(self, src, dst):
        if src not in self.objs or dst in self.objs:
            return False
        self.objs[dst] = self.objs.pop(src)
        return True

    def delete(self, path):
        self.objs.pop(path, None)

    def touch(self, path):
        tok, _ = self.objs[path]
        self.objs[path] = (tok, self.now_ms())

    def now_ms(self):
        import time

        return int(time.time() * 1000)


def test_conditional_put_lease_backend(spark, tmp_path):
    """The full lease lifecycle through a pluggable conditional-put
    backend: acquire, concurrent refusal, stale takeover, token-checked
    release — with NO filesystem lease file ever created."""
    path = str(tmp_path / "sink")
    be = _FakeConditionalPutBackend()
    token = sinks.acquire_writer_lease(spark, path, backend=be)
    assert not Path(path + "__lease").exists()  # never touched the FS
    with pytest.raises(sinks.ConcurrentWriterError, match="another writer"):
        sinks.acquire_writer_lease(spark, path, backend=be)
    # stale takeover through the backend
    lease_key = path + "__lease"
    be.objs[lease_key] = (token, be.now_ms() - sinks.LEASE_TTL_MS - 60_000)
    with pytest.warns(UserWarning, match="stale writer lease"):
        token2 = sinks.acquire_writer_lease(spark, path, backend=be)
    assert be.read_token(lease_key) == token2
    # the dead writer's release must not clobber the new owner
    with pytest.warns(UserWarning, match="taken over"):
        sinks.release_writer_lease(spark, path, token, backend=be)
    assert lease_key in be.objs
    sinks.release_writer_lease(spark, path, token2, backend=be)
    assert lease_key not in be.objs


def test_insert_if_absent_lease_wait(spark, tmp_path):
    """With lease_wait_ms, a FRESH lease released shortly after the
    attempt starts is waited out instead of raising (the
    kill-and-resume streaming restart); without it (default 0) the
    fail-fast contract stands."""
    import threading
    import time

    path = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    token = sinks.acquire_writer_lease(spark, path)
    # default: fail fast while the lease is held
    with pytest.raises(sinks.ConcurrentWriterError):
        manifest_insert_if_absent(spark, df, path, ["k"])

    # releases 1s in: the waiting insert acquires and proceeds
    def _release_later():
        time.sleep(1.0)
        sinks.release_writer_lease(spark, path, token)

    t = threading.Thread(target=_release_later)
    t.start()
    n = manifest_insert_if_absent(spark, df, path, ["k"], lease_wait_ms=15_000)
    t.join()
    assert n == 1
    assert read_manifest_sink(spark, path).count() == 1

    # bounded: a lease that never releases still raises at deadline
    token2 = sinks.acquire_writer_lease(spark, path)
    t0 = time.monotonic()
    with pytest.raises(sinks.ConcurrentWriterError):
        manifest_insert_if_absent(spark, df, path, ["k"], lease_wait_ms=1_200)
    assert 1.0 <= time.monotonic() - t0 < 10.0
    sinks.release_writer_lease(spark, path, token2)


def test_heartbeat_stops_when_owner_thread_dies(spark, tmp_path):
    """Round 14: a lease whose OWNING thread died without unwinding
    (killed foreachBatch callback) must stop renewing, so the TTL can
    lapse and a successor takes over instead of being blocked forever
    by a zombie heartbeat."""
    import threading
    import time

    from haensel_ams_data_engineer_challenge_spark.operators.sinks import (
        _lease_path,
        hold_writer_lease,
    )

    path = str(tmp_path / "sink2")
    entered = threading.Event()
    holder = {}  # keep the cm referenced: a killed callback's frame
    # is exactly a still-referenced, never-exited context manager

    def _owner():
        holder["cm"] = hold_writer_lease(spark, path, ttl_ms=1_200)
        holder["cm"].__enter__()  # deliberately never exits
        entered.set()

    t = threading.Thread(target=_owner)
    t.start()
    t.join()
    assert entered.is_set()
    import os

    lease = _lease_path(path)
    assert os.path.exists(lease)
    m0 = os.path.getmtime(lease)
    # > one heartbeat period (ttl/3 = 0.4s): a zombie would have
    # renewed by now; the owner-liveness guard must not have
    time.sleep(1.0)
    assert os.path.getmtime(lease) == m0, "zombie heartbeat renewed"


def test_dead_owner_lease_reclaimed_in_process(spark, tmp_path):
    """A lease whose hold_writer_lease owner thread died WITHOUT
    unwinding (the killed-foreachBatch kill-and-resume shape) is
    reclaimed by the next acquirer in the same process instead of
    stalling until the 15-minute crash TTL (round 16).  A lease whose
    owner thread is alive stays protected."""
    import threading

    path = str(tmp_path / "sink")
    entered = threading.Event()
    release = threading.Event()

    def _owner():
        with sinks.hold_writer_lease(spark, path):
            entered.set()
            release.wait(30)

    t = threading.Thread(target=_owner, daemon=True)
    t.start()
    assert entered.wait(10)
    # owner alive: a second acquirer must refuse
    with pytest.raises(sinks.ConcurrentWriterError):
        sinks.acquire_writer_lease(spark, path)
    # simulate the killed callback: mark the registry's owner as the
    # (now dead) thread WITHOUT letting the context unwind — by
    # letting the thread exit only after we snapshot the lease file.
    # hold_writer_lease's finally would release; to model the
    # never-unwound case, re-create the lease + registry entry after
    # the thread is gone.
    lease = sinks._lease_path(path)
    be = sinks._lease_backend(spark, None)
    token_on_disk = be.read_token(lease)
    with sinks._HELD_LEASES_LOCK:
        rec = sinks._HELD_LEASES[lease]
    assert rec[0] == token_on_disk
    release.set()
    t.join(10)
    assert not t.is_alive()
    # the clean exit released; rebuild the orphan state exactly as a
    # killed callback leaves it: lease file on disk + registry entry
    # pointing at the dead thread
    assert be.create_exclusive(lease, rec[0])
    with sinks._HELD_LEASES_LOCK:
        sinks._HELD_LEASES[lease] = (rec[0], t)
    with pytest.warns(UserWarning, match="owner thread .* is dead"):
        token2 = sinks.acquire_writer_lease(spark, path)
    assert token2 is not None
    sinks.release_writer_lease(spark, path, token2)


def test_interrupted_create_lease_reclaimed_in_process(spark, tmp_path):
    """A create that raises after the lease file exists (stopping a
    streaming query interrupts the callback's JVM thread mid
    ``fs.create``) leaves an empty lease no writer holds.  The next
    acquirer in the same process reclaims it instead of waiting out the
    15-minute TTL; a lease from a create that succeeded stays
    protected."""
    path = str(tmp_path / "sink")

    class TornCreate(sinks.HadoopLeaseBackend):
        def create_exclusive(self, p, token):
            self._fs(p).create(self._p(p), False).close()  # no token yet
            raise RuntimeError("interrupted mid-create")

    with pytest.raises(RuntimeError, match="interrupted"):
        sinks.acquire_writer_lease(spark, path, backend=TornCreate(spark))
    lease = Path(path + "__lease")
    assert lease.exists() and lease.read_text() == ""
    with pytest.warns(UserWarning, match="interrupted mid-create"):
        token = sinks.acquire_writer_lease(spark, path)
    assert lease.read_text() == token
    # the record is spent: the live lease now refuses a second writer
    with pytest.raises(sinks.ConcurrentWriterError):
        sinks.acquire_writer_lease(spark, path)
    sinks.release_writer_lease(spark, path, token)
