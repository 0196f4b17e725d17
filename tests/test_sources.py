"""Tests for sources: REST ingestion (fake session), JSON source quirks,
watermark, streaming events."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.sources.json_source import read_collection
from api_to_amt_data_lake_spark.sources.rest import (
    OdsConfig,
    fetch_collection_pages,
    land_collection,
    read_watermark,
    write_watermark,
)


class FakeResponse:
    def __init__(self, payload):
        self.payload = payload

    def raise_for_status(self):
        pass

    def json(self):
        return self.payload


class FakeSession:
    """Serves 2 full pages then an empty page; records every request."""

    def __init__(self, docs):
        self.docs = docs
        self.calls = []

    def get(self, url, params=None, headers=None, timeout=None):
        self.calls.append((url, dict(params or {})))
        off, lim = params["offset"], params["limit"]
        return FakeResponse(self.docs[off:off + lim])

    def post(self, url, data=None, auth=None, timeout=None):
        return FakeResponse({"access_token": "tok"})


CFG = OdsConfig(base_url="https://ods.example/data/v3/ed-fi",
                token_url="https://ods.example/oauth/token",
                client_id="k", client_secret="s", page_limit=2)


def test_pagination_until_empty_page():
    docs = [{"id": i} for i in range(5)]
    sess = FakeSession(docs)
    pages = list(fetch_collection_pages(CFG, "tok", "students", session=sess))
    assert [len(p) for p in pages] == [2, 2, 1]
    # offset advanced by page_limit each request; stops after empty page
    offsets = [c[1]["offset"] for c in sess.calls]
    assert offsets == [0, 2, 4, 6]


def test_deletes_url_suffix():
    sess = FakeSession([])
    list(fetch_collection_pages(CFG, "tok", "students", deletes=True,
                                session=sess))
    assert sess.calls[0][0].endswith("/students/deletes")


def test_change_version_params_passed():
    sess = FakeSession([])
    list(fetch_collection_pages(CFG, "tok", "students",
                                min_change_version=5, max_change_version=9,
                                session=sess))
    p = sess.calls[0][1]
    assert p["minChangeVersion"] == 5 and p["maxChangeVersion"] == 9


def test_land_collection_one_file_per_page(tmp_path, spark):
    docs = [{"id": str(i), "v": i} for i in range(5)]
    n = land_collection(CFG, "tok", "students", str(tmp_path), 2023,
                        session=FakeSession(docs))
    assert n == 5
    files = sorted((tmp_path / "2023" / "students").glob("*.json"))
    assert len(files) == 3
    # Landed pages are readable by the engine's silver JSON source.
    df = read_collection(spark, str(tmp_path), 2023, "students")
    assert df.count() == 5
    # first_file_only reproduces the reference's quirk (S5).
    assert read_collection(spark, str(tmp_path), 2023, "students",
                           first_file_only=True).count() == 2


def test_watermark_roundtrip(tmp_path):
    p = str(tmp_path / "wm" / "changeVersion.txt")
    assert read_watermark(p) is None
    write_watermark(p, 42)
    assert read_watermark(p) == 42


def test_read_collection_missing_returns_none(spark, tmp_path):
    assert read_collection(spark, str(tmp_path), 2023, "nothing") is None


def test_bucketed_views_join_without_shuffle(spark, tmp_path):
    """Two gold views bucketed on the same key must join with no Exchange
    in the physical plan (the write-time shuffle replaces every consuming
    join's shuffle — SURVEY.md §2.3 J11 at scale)."""
    from api_to_amt_data_lake_spark.sources.parquet_io import (
        write_view_bucketed,
    )

    left = spark.range(0, 1000).selectExpr(
        "id AS student_key", "id % 7 AS grade")
    right = spark.range(0, 1000).selectExpr(
        "id AS student_key", "id % 3 AS absences")
    write_view_bucketed(left, "bkt_left", ["student_key"], n_buckets=4,
                        sort_cols=["student_key"],
                        location=str(tmp_path / "bkt_left"))
    write_view_bucketed(right, "bkt_right", ["student_key"], n_buckets=4,
                        sort_cols=["student_key"],
                        location=str(tmp_path / "bkt_right"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_left").join(
                spark.table("bkt_right"), "student_key")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_clustered_write_files_are_range_disjoint(spark, tmp_path):
    import pyarrow.parquet as pq

    from api_to_amt_data_lake_spark.sources.parquet_io import (
        write_view_clustered,
    )

    df = spark.range(0, 10_000).withColumn(
        "student_key", (F.col("id") * 2654435761 % 10_007).cast("long"))
    path = str(tmp_path / "clustered")
    write_view_clustered(df.select("student_key", "id"), path,
                         ["student_key"], n_files=8)

    ranges = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.read_metadata(str(f))
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "student_key"
            assert col.statistics is not None
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    assert len(ranges) > 1
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"file ranges overlap: {ranges}"


def test_incremental_snapshot_equals_full_rebuild(spark, tmp_path):
    from api_to_amt_data_lake_spark.sources.incremental import (
        read_snapshot,
        refresh_snapshot,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "id string, v long, name string")

    # Increment 1: three documents.
    inc1 = docs([("a", 1, "alpha"), ("b", 1, "bravo"), ("c", 1, "charlie")])
    refresh_snapshot(spark, inc1, None, str(tmp_path), 2023, "students",
                     key_col="id", version_col="v")

    # Increment 2: updates b (newer), re-sends a (stale copy must lose),
    # adds d; deletes feed tombstones c.
    inc2 = docs([("b", 2, "BRAVO2"), ("a", 0, "stale"), ("d", 2, "delta")])
    dels = spark.createDataFrame([("c",)], "id string")
    out = refresh_snapshot(spark, inc2, dels, str(tmp_path), 2023, "students",
                           key_col="id", version_col="v")

    got = {r["id"]: (r["v"], r["name"]) for r in out.collect()}
    assert got == {"a": (1, "alpha"), "b": (2, "BRAVO2"), "d": (2, "delta")}

    # The persisted current snapshot matches what refresh returned.
    snap = read_snapshot(spark, str(tmp_path), 2023, "students")
    assert {tuple(r) for r in snap.collect()} == {tuple(r) for r in out.collect()}


def test_first_refresh_keeps_newest_version_in_batch(spark, tmp_path):
    """A first increment carrying several versions of one key must keep
    the newest — the same newest-wins contract later refreshes enforce —
    not an arbitrary dropDuplicates survivor."""
    from api_to_amt_data_lake_spark.sources.incremental import (
        refresh_snapshot,
    )

    inc = spark.createDataFrame(
        [("a", 1, "old"), ("a", 3, "newest"), ("a", 2, "mid"),
         ("b", 1, "only")],
        "id string, v long, name string")
    out = refresh_snapshot(spark, inc, None, str(tmp_path), 2023, "ep1",
                           key_col="id", version_col="v")
    got = {r["id"]: (r["v"], r["name"]) for r in out.collect()}
    assert got == {"a": (3, "newest"), "b": (1, "only")}


def test_incremental_snapshot_schema_drift(spark, tmp_path):
    from api_to_amt_data_lake_spark.sources.incremental import (
        refresh_snapshot,
    )

    inc1 = spark.createDataFrame([("a", 1, "x")], "id string, v long, old string")
    refresh_snapshot(spark, inc1, None, str(tmp_path), 2023, "ep",
                     key_col="id", version_col="v")
    # Second increment carries a column the snapshot has never seen and
    # lacks one it has.
    inc2 = spark.createDataFrame([("b", 2, "y")], "id string, v long, new string")
    out = refresh_snapshot(spark, inc2, None, str(tmp_path), 2023, "ep",
                           key_col="id", version_col="v")
    rows = {r["id"]: (r["old"], r["new"]) for r in out.collect()}
    assert rows == {"a": ("x", None), "b": (None, "y")}


class FakeMetadataSession(FakeSession):
    """FakeSession that also serves the ODS root metadata document."""

    def __init__(self, docs, data_models):
        super().__init__(docs)
        self.data_models = data_models

    def get(self, url, params=None, headers=None, timeout=None):
        if params is None and headers is None:  # root metadata fetch
            self.calls.append((url, {}))
            return FakeResponse({"dataModels": self.data_models})
        return super().get(url, params=params, headers=headers,
                           timeout=timeout)


def test_api_version_gate():
    """S-gate: land_all refuses ODS instances advertising an unsupported
    Ed-Fi data model (ref api/api.py:26-78) and proceeds on 3.3/4.0."""
    import pytest

    from api_to_amt_data_lake_spark.sources.rest import (
        is_tpdm_supported,
        land_all,
        validate_supported_api,
    )

    ok = FakeMetadataSession([], [{"name": "Ed-Fi", "version": "4.0.0"},
                                  {"name": "TPDM", "version": "1.1.0"}])
    assert validate_supported_api(CFG, session=ok)
    assert is_tpdm_supported(CFG, session=ok)
    # metadata root = data URL minus /data/v3/ed-fi
    assert ok.calls[0][0] == "https://ods.example"

    old = FakeMetadataSession([], [{"name": "Ed-Fi", "version": "5.2.0"}])
    assert not validate_supported_api(CFG, session=old)
    assert not is_tpdm_supported(CFG, session=old)
    with pytest.raises(RuntimeError, match="unsupported.*5.2.0"):
        land_all(CFG, ["students"], "/tmp/x", 2023, session=old)

    supported = FakeMetadataSession([{"id": 1}],
                                    [{"name": "Ed-Fi", "version": "3.3.1-b"}])
    assert validate_supported_api(CFG, session=supported)


def test_csv_debug_sink(spark, tmp_path):
    """S9: the CSV debug sink round-trips a small frame with headers."""
    from api_to_amt_data_lake_spark.sources.parquet_io import write_view_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    path = write_view_csv(df, str(tmp_path), "debug_view", 2023)
    assert path.endswith("2023/debug_view_csv")
    back = spark.read.option("header", True).csv(path)
    assert {(int(r["k"]), r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_read_memo_bounded_and_purged(spark, tmp_path):
    """_READ_MEMO cannot grow without bound: entries from stopped
    SparkContexts are purged on access, and live entries are LRU-capped."""
    from api_to_amt_data_lake_spark.sources import json_source as js

    silver = tmp_path / "2023" / "students"
    silver.mkdir(parents=True)
    (silver / "students_page00000.json").write_text('[{"id": "a"}]')

    js._READ_MEMO.clear()
    js._CTX_REFS.clear()
    assert read_collection(spark, str(tmp_path), 2023, "students") is not None
    assert len(js._READ_MEMO) == 1

    # Simulate a stopped context holding stale entries.
    class StoppedCtx:
        _jsc = None

    stopped = StoppedCtx()
    js._CTX_REFS[id(stopped)] = __import__("weakref").ref(stopped)
    js._READ_MEMO[(id(stopped), ("f.json",), (0,), None)] = "stale"
    assert read_collection(spark, str(tmp_path), 2023, "students") is not None
    assert not any(k[0] == id(stopped) for k in js._READ_MEMO)

    # LRU cap: flood with fake live-session keys; size stays bounded.
    live_id = id(spark.sparkContext)
    for i in range(js._MEMO_CAP + 40):
        js._READ_MEMO[(live_id, (f"fake{i}.json",), (i,), None)] = "x"
        while len(js._READ_MEMO) > js._MEMO_CAP:
            js._READ_MEMO.popitem(last=False)
    assert read_collection(spark, str(tmp_path), 2023, "students") is not None
    assert len(js._READ_MEMO) <= js._MEMO_CAP


def test_read_collection_single_flight(spark, tmp_path, monkeypatch):
    """Concurrent misses on one fresh collection run one JSON read (one
    schema-inference job) and every caller gets the same DataFrame."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.readwriter import DataFrameReader

    silver = tmp_path / "2023" / "students"
    silver.mkdir(parents=True)
    (silver / "students_page00000.json").write_text('[{"id": "a"}]')
    calls = []
    json_read = DataFrameReader.json

    def slow_json(reader, *args, **kwargs):
        calls.append(1)
        time.sleep(0.5)  # hold the miss open while the others arrive
        return json_read(reader, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "json", slow_json)
    start = threading.Barrier(8, timeout=60)

    def read(_):
        start.wait()
        return read_collection(spark, str(tmp_path), 2023, "students")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            frames = list(pool.map(read, range(8), timeout=120))
    finally:
        sys.setswitchinterval(switch)
    assert len(calls) == 1
    assert all(f is frames[0] for f in frames)


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Compaction folds a many-small-files directory into the byte-sized
    target count with identical content."""
    from api_to_amt_data_lake_spark.sources.parquet_io import compact_parquet

    src = str(tmp_path / "small")
    spark.range(0, 10_000).withColumn("v", F.col("id") * 2) \
        .repartition(64).write.parquet(src)
    n_in = len([f for f in Path(src).iterdir() if f.suffix == ".parquet"])
    assert n_in >= 32  # genuinely fragmented input

    dst = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, dst, target_file_mb=128)
    assert n_out == 1  # tiny table -> one file
    a = {(r["id"], r["v"]) for r in spark.read.parquet(src).collect()}
    b = {(r["id"], r["v"]) for r in spark.read.parquet(dst).collect()}
    assert a == b


def test_export_corpus_partitioned_sharded(spark, tmp_path):
    from api_to_amt_data_lake_spark.sources.parquet_io import export_corpus

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "es", f"doc {i}") for i in range(100)],
        "doc_id long, lang string, text string").coalesce(1)
    path = export_corpus(df, str(tmp_path / "corpus"),
                         partition_cols=["lang"], max_records_per_file=10)
    langs = {p.name for p in (tmp_path / "corpus").iterdir()
             if p.name.startswith("lang=")}
    assert langs == {"lang=en", "lang=es"}
    for part in langs:
        files = [f for f in (tmp_path / "corpus" / part).iterdir()
                 if f.suffix == ".parquet"]
        assert len(files) >= 5  # 50 rows / cap 10
        import pyarrow.parquet as pq
        assert all(pq.read_metadata(str(f)).num_rows <= 10 for f in files)
    back = spark.read.parquet(str(tmp_path / "corpus"))
    assert back.count() == 100 and set(back.columns) == {"doc_id", "lang", "text"}


def test_zorder_write_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered files must cover tight rectangles in BOTH columns: for a
    narrow predicate on y, most files' y-min/max footer ranges miss it
    (file-level skipping), while an x-sorted layout cannot skip any —
    every x-sorted file spans the full y range."""
    import pyarrow.parquet as pq

    from api_to_amt_data_lake_spark.sources.parquet_io import (
        write_view_clustered,
        write_view_zordered,
    )

    grid = spark.range(0, 256 * 256).selectExpr(
        "id % 256 AS x", "CAST(id / 256 AS LONG) AS y")

    zpath = str(tmp_path / "zorder")
    write_view_zordered(grid, zpath, "x", "y", n_files=16, bits=8)
    lpath = str(tmp_path / "linear")
    write_view_clustered(grid.select("x", "y"), lpath, ["x"], n_files=16)

    def overlapping_files(path, lo, hi):
        hits, total = 0, 0
        for f in Path(path).glob("*.parquet"):
            md = pq.read_metadata(str(f))
            idx = next(i for i in range(len(md.schema))
                       if md.schema.column(i).name == "y")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                hits += 1
        return hits, total

    z_hits, z_total = overlapping_files(zpath, 100, 110)
    l_hits, l_total = overlapping_files(lpath, 100, 110)
    assert z_total > 8 and l_total > 8
    assert l_hits == l_total            # x-sort: every file spans all y
    assert z_hits <= z_total // 2       # z-order: most files skipped

    # Content preserved.
    assert spark.read.parquet(zpath).count() == 256 * 256


def test_fetch_retries_transient_failures():
    """429/5xx pages retry with backoff instead of aborting the
    collection; permanent failures still raise after max retries."""
    import pytest

    from api_to_amt_data_lake_spark.sources.rest import _get_with_retry

    class FlakyResponse(FakeResponse):
        def __init__(self, payload, status):
            super().__init__(payload)
            self.status_code = status

        def raise_for_status(self):
            if self.status_code >= 400:
                raise RuntimeError(f"http {self.status_code}")

    class FlakySession:
        def __init__(self, failures, status=429):
            self.failures = failures
            self.status = status
            self.calls = 0

        def get(self, url, params=None, headers=None, timeout=None):
            self.calls += 1
            if self.calls <= self.failures:
                return FlakyResponse(None, self.status)
            return FlakyResponse([{"id": 1}], 200)

    flaky = FlakySession(failures=2)
    resp = _get_with_retry(flaky, "http://x", backoff_s=0.001)
    assert resp.json() == [{"id": 1}] and flaky.calls == 3

    dead = FlakySession(failures=99, status=503)
    with pytest.raises(RuntimeError, match="http 503"):
        _get_with_retry(dead, "http://x", max_retries=2, backoff_s=0.001)
    assert dead.calls == 3  # initial + 2 retries


def test_read_collection_drops_corrupt_pages(spark, tmp_path):
    """A malformed landed page yields no garbage rows — good files'
    documents still flow; the corrupt marker column never escapes."""
    d = tmp_path / "2023" / "students"
    d.mkdir(parents=True)
    (d / "students_page00000.json").write_text(
        '[{"id": "a", "v": 1}, {"id": "b", "v": 2}]')
    (d / "students_page00001.json").write_text('{"id": "c", "v": ')  # cut off

    from api_to_amt_data_lake_spark.sources import json_source as js
    js._READ_MEMO.clear()
    df = read_collection(spark, str(tmp_path), 2023, "students")
    rows = {(r["id"], r["v"]) for r in df.collect()}
    assert rows == {("a", 1), ("b", 2)}
    assert "_corrupt_record" not in df.columns


def test_export_webdataset_shards(spark, tmp_path):
    """WebDataset export: samples grouped by basename with one member
    per payload extension, members adjacent and id-ordered, shards
    bounded by shard_size, atomic files, byte-identical on re-export."""
    import hashlib
    import tarfile

    from api_to_amt_data_lake_spark.sources.webdataset import (
        export_webdataset,
        read_webdataset_manifest,
    )

    rows = [(i, bytes([i % 256]) * (10 + i), f"caption {i}")
            for i in range(25)]
    df = spark.createDataFrame(rows, "id long, img binary, txt string")
    out = str(tmp_path / "wds")
    manifest = {r["shard"]: (r["n_samples"], r["path"])
                for r in export_webdataset(
                    df, out, "id", {"jpg": "img", "txt": "txt"},
                    shard_size=10).collect()}
    assert {s: n for s, (n, _) in manifest.items()} == {0: 10, 1: 10, 2: 5}

    with tarfile.open(manifest[1][1]) as tar:
        names = tar.getnames()
        # adjacency + order: jpg then txt per id, ids ascending
        assert names == [f"{i:012d}.{e}" for i in range(10, 20)
                         for e in ("jpg", "txt")]
        got = tar.extractfile("000000000012.jpg").read()
        assert got == bytes([12]) * 22
        assert tar.extractfile("000000000012.txt").read() == b"caption 12"

    digests = {p: hashlib.md5(open(p, "rb").read()).hexdigest()
               for _, p in manifest.values()}
    # re-export: byte-identical shards (fixed tar metadata, no clock)
    export_webdataset(df, out, "id", {"jpg": "img", "txt": "txt"},
                      shard_size=10).collect()
    for p, d in digests.items():
        assert hashlib.md5(open(p, "rb").read()).hexdigest() == d

    audit = {r["shard"]: r["n_members"]
             for r in read_webdataset_manifest(spark, out).collect()}
    assert audit == {0: 20, 1: 20, 2: 10}


def test_read_webdataset_roundtrip(spark, tmp_path):
    from api_to_amt_data_lake_spark.sources.webdataset import (
        export_webdataset,
        read_webdataset,
    )

    rows = [(i, bytes([i]) * 5, f"t{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, img binary, txt string")
    out = str(tmp_path / "wds")
    export_webdataset(df, out, "id", {"jpg": "img", "txt": "txt"},
                      shard_size=5).collect()
    back = read_webdataset(spark, out)
    got = {(r["id"], r["ext"]): bytes(r["content"])
           for r in back.collect()}
    assert len(got) == 24
    assert got[(3, "jpg")] == bytes([3]) * 5
    assert got[(11, "txt")] == b"t11"


def test_snapshot_time_travel_reads_older_version(spark, tmp_path):
    """read_snapshot(version=) returns the pre-refresh state while the
    version is retained, and raises once pruned."""
    import pytest as _pytest

    from api_to_amt_data_lake_spark.sources.incremental import (
        current_version,
        list_versions,
        read_snapshot,
        refresh_snapshot,
    )

    root = str(tmp_path / "snap")

    def inc(rows):
        return spark.createDataFrame(rows, "id string, v long, x string")

    refresh_snapshot(spark, inc([("a", 1, "old")]), None, root, 2023,
                     "ep", key_col="id", version_col="v", keep_versions=2)
    v1 = current_version(root, 2023, "ep")
    refresh_snapshot(spark, inc([("a", 2, "new")]), None, root, 2023,
                     "ep", key_col="id", version_col="v", keep_versions=2)

    assert {r["x"] for r in read_snapshot(spark, root, 2023,
                                          "ep").collect()} == {"new"}
    old = read_snapshot(spark, root, 2023, "ep", version=v1)
    assert {r["x"] for r in old.collect()} == {"old"}

    # another refresh prunes v1 (keep_versions=2)
    refresh_snapshot(spark, inc([("a", 3, "newer")]), None, root, 2023,
                     "ep", key_col="id", version_col="v", keep_versions=2)
    assert v1 not in list_versions(root, 2023, "ep")
    with _pytest.raises(ValueError, match="pruned"):
        read_snapshot(spark, root, 2023, "ep", version=v1)


def test_bucketed_snapshot_refresh_parity_and_plan(spark, tmp_path):
    """n_buckets opt-in (VERDICT r4 item 7): bucketed refresh produces
    EXACTLY the plain refresh's rows; the splice plan never exchanges
    the base snapshot on the natural key (only the broadcast-joined
    touched subset passes through a hash shuffle); and two bucketed
    snapshots join with ZERO Exchange — the write-time shuffle replaces
    every consuming join's."""
    from api_to_amt_data_lake_spark.sources.incremental import (
        merge_increment,
        read_snapshot,
        refresh_snapshot,
        snapshot_table_name,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "id long, v long, name string")

    inc1 = docs([(i, 1, f"n{i}") for i in range(200)])
    inc2 = docs([(5, 2, "upd5"), (201, 1, "new201"), (7, 0, "stale7")])
    dels = spark.createDataFrame([(9,)], "id long")

    plain_root = str(tmp_path / "plain")
    bkt_root = str(tmp_path / "bkt")
    for root, nb in ((plain_root, None), (bkt_root, 4)):
        refresh_snapshot(spark, inc1, None, root, 2023, "students",
                         key_col="id", version_col="v", n_buckets=nb)
        refresh_snapshot(spark, inc2, dels, root, 2023, "students",
                         key_col="id", version_col="v", n_buckets=nb)
    try:
        plain = read_snapshot(spark, plain_root, 2023, "students")
        bkt = read_snapshot(spark, bkt_root, 2023, "students")
        assert sorted(map(tuple, plain.collect())) \
            == sorted(map(tuple, bkt.collect()))

        # Splice plan audit: the carry-over branch — which carries
        # ~everything at 100 TB — must read the snapshot with NO
        # Exchange hashpartitioning ancestor (base rows leave through a
        # BroadcastHashJoin anti). The touched branch's rows do pass
        # through the upsert's shuffle, but that subset is bounded by
        # the increment. The plain shape, by contrast, exchanges EVERY
        # base row on the key.
        def scan_has_shuffle_ancestor(plan: str, scan_needle: str):
            lines = plan.splitlines()

            def depth(s):
                j = 0
                while s[j:j + 3] in (":  ", "   ", ":- ", "+- "):
                    j += 3
                return j // 3

            results = []
            for i, ln in enumerate(lines):
                if scan_needle in ln and "FileScan" in ln:
                    d = depth(ln)
                    shuffled = False
                    for k in range(i - 1, -1, -1):
                        dk = depth(lines[k])
                        if dk < d:
                            if "Exchange hashpartitioning" in lines[k]:
                                shuffled = True
                            d = dk
                            if d == 0:
                                break
                    results.append(shuffled)
            return results

        inc3 = docs([(5, 3, "upd5b")])
        spliced = merge_increment(bkt, inc3, None, "id", "v",
                                  spliced=True)
        sp = spliced._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in sp  # bucketed scan is in play
        assert "BroadcastHashJoin" in sp
        flags = scan_has_shuffle_ancestor(sp, "snap_students")
        assert flags and False in flags, sp  # carry-over path: no shuffle
        plain_m = merge_increment(bkt, inc3, None, "id", "v",
                                  spliced=False)
        pp = plain_m._jdf.queryExecution().executedPlan().toString()
        pflags = scan_has_shuffle_ancestor(pp, "snap_students")
        assert pflags and all(pflags), pp  # plain: every base row shuffled
        # and the splice answer matches the plain merge
        assert sorted(map(tuple, spliced.collect())) \
            == sorted(map(tuple, plain_m.collect()))

        # Co-located read: two same-key bucketed snapshots join with no
        # Exchange at all.
        refresh_snapshot(spark, inc1, None, bkt_root, 2023, "sections",
                         key_col="id", version_col="v", n_buckets=4)
        other = read_snapshot(spark, bkt_root, 2023, "sections")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bkt.join(other, "id")
            jp = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in jp
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for ep in ("students", "sections"):
            for v in range(3):
                spark.sql("DROP TABLE IF EXISTS " + snapshot_table_name(
                    bkt_root, 2023, ep, v))


def test_snapshot_changes_cdf(spark, tmp_path):
    """Change data feed between retained versions: diff(v0, v1) yields
    exactly the insert/update/delete rows the second refresh applied."""
    from api_to_amt_data_lake_spark.sources.incremental import (
        refresh_snapshot,
        snapshot_changes,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "id string, v long, name string")

    inc1 = docs([("a", 1, "alpha"), ("b", 1, "bravo"), ("c", 1, "charlie")])
    refresh_snapshot(spark, inc1, None, str(tmp_path), 2023, "ep_cdf",
                     key_col="id", version_col="v")
    inc2 = docs([("b", 2, "BRAVO2"), ("d", 2, "delta"),
                 ("a", 1, "alpha")])          # a re-sent unchanged
    dels = spark.createDataFrame([("c",)], "id string")
    refresh_snapshot(spark, inc2, dels, str(tmp_path), 2023, "ep_cdf",
                     key_col="id", version_col="v")

    ch = snapshot_changes(spark, str(tmp_path), 2023, "ep_cdf", "id",
                          from_version=0, to_version=1)
    got = {r["id"]: (r["_change_type"], r["v"], r["name"])
           for r in ch.collect()}
    # unchanged key 'a' is absent; b updated, c deleted (old state
    # carried), d inserted
    assert got == {
        "b": ("update", 2, "BRAVO2"),
        "c": ("delete", 1, "charlie"),
        "d": ("insert", 2, "delta"),
    }

    import pytest

    with pytest.raises(ValueError, match="not available"):
        snapshot_changes(spark, str(tmp_path), 2023, "ep_cdf", "id",
                         from_version=7, to_version=1)
