"""Ingestion-path tests (SURVEY.md §5.3): schema-inference parity,
routing precedence, message-type resolution, partition buckets,
compression, catalog registration, PII chain, control messages —
driven through IngestJob end-to-end against the reference's documented
message shapes (FIXTURES.md §4)."""

from __future__ import annotations

import json
import os

import pytest

from rtdl_spark.config import StreamConfig, StreamRegistry
from tests.test_checkpoint_read import _jobs_of

STREAM_ID = "837a8d07-cd06-4e17-bcd8-aef0b5e48d31"
ALT_STREAM_ID = "11111111-2222-3333-4444-555555555555"


@pytest.fixture()
def registry(tmp_path):
    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id=STREAM_ID,
            message_type="test-msg",
            file_store_type_id=1,
            folder_name="testFolder",
            partition_time_id=2,
            compression_type_id=1,
            functions="ingester",
        )
    )
    reg.create(
        StreamConfig(
            stream_id=ALT_STREAM_ID,
            stream_alt_id="ext-system-key-01",
            message_type="segment-msg",
            file_store_type_id=1,
            folder_name="segmentFolder",
            partition_time_id=4,
            compression_type_id=2,
            functions="ingester,pii-detection",
        )
    )
    return reg


def make_job(spark, registry, tmp_path, **kw):
    from rtdl_spark.ingest import IngestJob

    kw.setdefault("fixed_time", "2024-02-15 10:30:00")
    return IngestJob(spark, registry, str(tmp_path / "lake"), **kw)


def write_events(tmp_path, events, name="events"):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    with open(d / "batch.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return str(d)


def test_canonical_message_end_to_end(spark, registry, tmp_path):
    """README.md:160-168 canonical message: primitives + array + nested
    object land in a partitioned parquet table, catalog-registered."""
    path = write_events(
        tmp_path,
        [
            {
                "stream_id": STREAM_ID,
                "name": "user1",
                "array": [1, 2, 3],
                "properties": {"age": 20},
            }
        ],
    )
    job = make_job(spark, registry, tmp_path)
    written = job.ingest_json_dir(path)
    assert STREAM_ID in written

    out = spark.read.parquet(written[STREAM_ID])
    row = out.collect()[0]
    assert row["name"] == "user1"
    assert row["array"] == [1, 2, 3]
    assert row["properties"]["age"] == 20
    # A7: no payload.type → envelope None → config message_type
    assert row["rtdl_table"] == "test-msg"
    # A9 daily bucket from the pinned clock
    assert row["rtdl_bucket"] == "2024-02-15"
    # A19: queryable through the session catalog
    n = spark.sql("SELECT count(*) AS n FROM testFolder.test_msg").collect()
    assert n[0]["n"] == 1


def test_schema_inference_drops_null_and_empties(spark, registry, tmp_path):
    """A8 parity (ingester.go:462-476,487): null fields, empty objects and
    empty arrays are dropped from the inferred schema; 'd' survives."""
    path = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "a": None, "b": {}, "c": [], "d": "kept"}],
    )
    job = make_job(spark, registry, tmp_path)
    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    assert "d" in out.columns
    for dropped in ("a", "b", "c"):
        assert dropped not in out.columns


def test_payload_type_precedence_and_mixed_array(spark, registry, tmp_path):
    """A7 (ingester.go:1511-1517): payload.type overrides config type.
    Array typing: Spark resolves mixed arrays to a common type (string) —
    reference took first-element type (ingester.go:492); divergence is
    strictly safer and documented in SURVEY §1.2."""
    path = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "type": "page_view", "mixed": [1, "two"]}],
    )
    job = make_job(spark, registry, tmp_path)
    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    row = out.collect()[0]
    assert row["rtdl_table"] == "page_view"
    assert row["mixed"] == ["1", "two"]


def test_writekey_routes_by_alt_id_with_pii_chain(spark, registry, tmp_path):
    """A1+A5: writeKey → stream_alt_id routing beats stream_id matching;
    A22/A23: the pii-detection chain step masks string columns."""
    path = write_events(
        tmp_path,
        [
            {
                "writeKey": "ext-system-key-01",
                "type": "identify",
                "ssn": "123-45-6789",
                "note": "call 415-555-1234 or 111-555-1234",
            }
        ],
    )
    job = make_job(spark, registry, tmp_path)
    written = job.ingest_json_dir(path)
    assert list(written) == [ALT_STREAM_ID]
    row = spark.read.parquet(written[ALT_STREAM_ID]).collect()[0]
    assert row["ssn"] == "###"
    # [2-9]-prefix phone masked; 111- prefix survives (PiiDetector.java:16)
    assert row["note"] == "call ### or 111-555-1234"
    # monthly partition grain for this stream
    assert row["rtdl_bucket"] == "2024-02"


def test_control_message_filtered_and_unmatched_dropped(spark, registry, tmp_path):
    """A24: rtdl_205 never lands in the lake (ingester.go:1551-1561);
    unmatched stream ids are dropped silently (ingest-service.go:244)."""
    path = write_events(
        tmp_path,
        [
            {"stream_id": "", "type": "rtdl_205", "payload": {}},
            {"stream_id": "no-such-stream", "v": 1},
        ],
    )
    job = make_job(spark, registry, tmp_path)
    assert job.ingest_json_dir(path) == {}


def test_compression_codecs(spark, registry, tmp_path):
    """A11: codec comes from config (1=snappy, 2=gzip; LZO→zstd documented
    in config.constants)."""
    p1 = write_events(tmp_path, [{"stream_id": STREAM_ID, "x": 1}], "e1")
    p2 = write_events(
        tmp_path, [{"writeKey": "ext-system-key-01", "x": 1}], "e2"
    )
    job = make_job(spark, registry, tmp_path)
    d1 = job.ingest_json_dir(p1)[STREAM_ID]
    d2 = job.ingest_json_dir(p2)[ALT_STREAM_ID]

    def codecs(root):
        found = set()
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    found.add(f.split(".")[-2])
        return found

    assert codecs(d1) == {"snappy"}
    assert codecs(d2) == {"gz"}  # gzip parquet files carry a .gz suffix


def test_legacy_double_numbers_mode(spark, registry, tmp_path):
    """§1.2: reference collapsed all JSON numbers to DOUBLE
    (ingester.go:433); legacy mode reproduces that typing."""
    path = write_events(tmp_path, [{"stream_id": STREAM_ID, "n": 7}])
    job = make_job(spark, registry, tmp_path, legacy_double_numbers=True)
    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    assert dict(out.dtypes)["n"] == "double"


def test_registry_crud_and_validation(tmp_path):
    """A6 (config-service.go): create/get/update/delete/(de)activate +
    enum validation + alt-id precedence in match()."""
    reg = StreamRegistry(str(tmp_path / "c"))
    cfg = reg.create(StreamConfig(message_type="m", file_store_type_id=1))
    assert reg.get(cfg.stream_id).message_type == "m"

    with pytest.raises(ValueError):
        reg.create(StreamConfig(file_store_type_id=9))

    cfg.folder_name = "f2"
    reg.update(cfg)
    # fresh registry instance sees persisted state (file-backed, like the
    # reference's configs/ dir)
    assert StreamRegistry(reg.configs_dir).get(cfg.stream_id).folder_name == "f2"

    reg.set_active(cfg.stream_id, False)
    assert reg.get_all_active() == []
    assert reg.match(cfg.stream_id, None) is None  # inactive → unmatched

    reg.delete(cfg.stream_id)
    assert reg.get_all() == []


def test_event_time_partitioning(spark, registry, tmp_path):
    """time_source='event': bucket from a payload timestamp instead of the
    write-time clock (capability-plus vs reference A9)."""
    path = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "ts": "2023-07-04 12:00:00", "v": 1}],
    )
    job = make_job(
        spark, registry, tmp_path, time_source="event", event_time_col="ts"
    )
    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    assert out.collect()[0]["rtdl_bucket"] == "2023-07-04"


def test_schema_drift_across_batches(spark, registry, tmp_path):
    """Two batches with different payload shapes append to the same table;
    read-back reconciles to the union schema with NULLs for fields a batch
    did not carry — batch-granular parity with the reference's
    per-message schema tolerance (ingester.go:453-520)."""
    job = make_job(spark, registry, tmp_path)
    p1 = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "name": "u1", "age": 20}],
        name="drift1",
    )
    p2 = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "name": "u2", "city": "berlin"}],
        name="drift2",
    )
    job.ingest_json_dir(p1)
    job.ingest_json_dir(p2)
    cfg = registry.get(STREAM_ID)
    out = job.read_table(cfg, "test-msg")
    rows = {r["name"]: r for r in out.collect()}
    assert set(rows) == {"u1", "u2"}
    assert rows["u1"]["age"] == 20 and rows["u1"]["city"] is None
    assert rows["u2"]["city"] == "berlin" and rows["u2"]["age"] is None


def test_pinned_schema_skips_inference(spark, tmp_path):
    """When every active stream pins a schema, read_json reads with the
    pinned union (zero inference passes) and the pipeline output matches
    the inferred-path output exactly. Fields present in data but absent
    from the pinned schema are simply not read — pinning is authoritative."""
    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id=STREAM_ID,
            message_type="test-msg",
            folder_name="pinnedFolder",
            partition_time_id=2,
            pinned_schema="stream_id string, name string, age bigint",
        )
    )
    path = write_events(
        tmp_path,
        [
            {"stream_id": STREAM_ID, "name": "u1", "age": 20, "ignored": "x"},
            {"stream_id": STREAM_ID, "name": "u2", "age": 30},
        ],
    )
    job = make_job(spark, reg, tmp_path)
    raw = job.read_json(path)
    assert [f.name for f in raw.schema.fields] == ["stream_id", "name", "age"]

    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    rows = {r["name"]: r for r in out.collect()}
    assert rows["u1"]["age"] == 20 and "ignored" not in out.columns

    # read-back uses the pinned schema too (footer-free scan)
    back = job.read_table(reg.get(STREAM_ID), "test-msg")
    assert {r["name"] for r in back.collect()} == {"u1", "u2"}


def test_pinned_schema_union_and_conflicts(tmp_path):
    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id="s1",
            folder_name="f1",
            pinned_schema="stream_id string, a bigint",
        )
    )
    # one stream without a pin → no union, caller infers
    reg.create(StreamConfig(stream_id="s2", folder_name="f2"))
    assert reg.pinned_union_schema() is None

    reg.get("s2").pinned_schema = "stream_id string, b double"
    reg.update(reg.get("s2"))
    union = reg.pinned_union_schema()
    assert [f.name for f in union.fields] == ["stream_id", "a", "b"]

    reg.get("s2").pinned_schema = "stream_id string, a string"
    reg.update(reg.get("s2"))
    with pytest.raises(ValueError, match="pinned_schema conflict"):
        reg.pinned_union_schema()


def test_sampled_inference_reads_all_rows(spark, registry, tmp_path):
    """samplingRatio bounds the inference pass, not the data read: all rows
    land; fields that the sample happened to miss would be dropped (the
    documented trade-off vs pinning)."""
    path = write_events(
        tmp_path,
        [{"stream_id": STREAM_ID, "name": f"u{i}", "v": i} for i in range(50)],
    )
    job = make_job(spark, registry, tmp_path, inference_sampling_ratio=0.5)
    out = spark.read.parquet(job.ingest_json_dir(path)[STREAM_ID])
    assert out.count() == 50


def test_corrupt_policy_drop_quarantine_fail(spark, registry, tmp_path):
    """Unparseable JSON lines: 'drop' (default) skips them silently
    (reference parity — unmarshal error drops the message,
    ingest-service.go:172-177); 'quarantine' lands the raw line under
    <lake>/_quarantine/ and ingests the rest; 'fail' raises."""
    import os

    d = tmp_path / "bad_events"
    d.mkdir()
    with open(d / "batch.json", "w") as f:
        f.write(json.dumps({"stream_id": STREAM_ID, "v": 1}) + "\n")
        f.write("{this is not json at all\n")
        f.write(json.dumps({"stream_id": STREAM_ID, "v": 2}) + "\n")
    path = str(d)

    out = make_job(spark, registry, tmp_path).ingest_json_dir(path)
    assert spark.read.parquet(out[STREAM_ID]).count() == 2

    qtmp = tmp_path / "qlake"
    job_q = make_job(spark, registry, tmp_path, corrupt_policy="quarantine")
    job_q.lake_root = str(qtmp)
    out_q = job_q.ingest_json_dir(path)
    assert spark.read.parquet(out_q[STREAM_ID]).count() == 2
    qlines = spark.read.text(os.path.join(str(qtmp), "_quarantine")).collect()
    assert [r["value"] for r in qlines] == ["{this is not json at all"]
    # clean rows carry no corrupt column into the lake
    assert "_corrupt_record" not in spark.read.parquet(out_q[STREAM_ID]).columns

    job_f = make_job(spark, registry, tmp_path, corrupt_policy="fail")
    with pytest.raises(Exception):
        job_f.ingest_json_dir(path)


def test_corrupt_quarantine_with_pinned_schema(spark, tmp_path):
    """Pinned-schema reads must still quarantine: the corrupt column is
    appended to the pinned schema internally and stripped before the lake
    write."""
    import os

    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id=STREAM_ID,
            message_type="test-msg",
            folder_name="pq",
            pinned_schema="stream_id string, v bigint",
        )
    )
    d = tmp_path / "ev"
    d.mkdir()
    with open(d / "b.json", "w") as f:
        f.write(json.dumps({"stream_id": STREAM_ID, "v": 1}) + "\n")
        f.write("not json {{{\n")
    job = make_job(spark, reg, tmp_path, corrupt_policy="quarantine")
    out = job.ingest_json_dir(str(d))
    lake = spark.read.parquet(out[STREAM_ID])
    assert lake.count() == 1 and "_corrupt_record" not in lake.columns
    q = spark.read.text(
        os.path.join(str(tmp_path / "lake"), "_quarantine")
    ).collect()
    assert [r["value"] for r in q] == ["not json {{{"]


def test_chain_extra_function_dedup_at_ingest(spark, tmp_path):
    """A22 extension point: a user-registered chain function, routed by
    name from the stream config exactly like the built-ins — here a
    dedup-at-ingest step that drops duplicate payloads before the
    partitioned write (the reference's 'any StateFun joins the chain'
    surface, module.yaml). Unknown names must still raise."""
    import pytest as _pytest

    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob
    from rtdl_spark.operators.dedup import exact_dedup

    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id="dd-stream",
            message_type="clicks",
            folder_name="ddFolder",
            partition_time_id=2,
            functions="ingester,dedup",
        )
    )
    path = write_events(
        tmp_path,
        [
            {"stream_id": "dd-stream", "type": "clicks", "k": 1, "v": "a"},
            {"stream_id": "dd-stream", "type": "clicks", "k": 1, "v": "a"},
            {"stream_id": "dd-stream", "type": "clicks", "k": 2, "v": "b"},
        ],
        name="dd_events",
    )
    job = IngestJob(
        spark,
        reg,
        str(tmp_path / "lake"),
        fixed_time="2024-02-15 10:30:00",
        register_catalog=False,
        extra_functions={"dedup": lambda df: exact_dedup(df, ["k", "v"])},
    )
    job.ingest_json_dir(path)
    out = spark.read.parquet(str(tmp_path / "lake" / "ddFolder"))
    assert out.count() == 2
    assert {(r["k"], r["v"]) for r in out.select("k", "v").collect()} == {
        (1, "a"),
        (2, "b"),
    }

    # unknown chain names still fail loudly
    reg2 = StreamRegistry(str(tmp_path / "configs2"))
    reg2.create(
        StreamConfig(
            stream_id="bad-stream",
            message_type="clicks",
            folder_name="badFolder",
            partition_time_id=2,
            functions="ingester,nonexistent",
        )
    )
    bad = IngestJob(
        spark,
        reg2,
        str(tmp_path / "lake2"),
        fixed_time="2024-02-15 10:30:00",
        register_catalog=False,
    )
    bad_path = write_events(
        tmp_path,
        [{"stream_id": "bad-stream", "type": "clicks", "k": 1}],
        name="bad_events",
    )
    with _pytest.raises(Exception, match="unknown function"):
        bad.ingest_json_dir(bad_path)


def test_ingest_lineage_columns(spark, tmp_path):
    """with_lineage=True lands _source_file (the raw file each row came
    from) and _ingested_at in the lake — the queryable replacement for
    the provenance the reference got from one-file-per-message."""
    import json

    from rtdl_spark.config.registry import StreamRegistry
    from rtdl_spark.ingest.pipeline import IngestJob

    src = tmp_path / "raw"
    src.mkdir()
    for fname, uid in [("a.json", 1), ("b.json", 2)]:
        with open(src / fname, "w") as f:
            f.write(
                json.dumps(
                    {"stream_id": "s1", "type": "ev", "user": uid}
                )
                + "\n"
            )
    from rtdl_spark.config.registry import StreamConfig

    reg = StreamRegistry(str(tmp_path / "cfg"))
    reg.create(
        StreamConfig(
            stream_id="s1",
            active=True,
            file_store_type_id=1,
            partition_time_id=2,
            compression_type_id=1,
            folder_name="lake1",
            functions="ingester",
        )
    )
    job = IngestJob(
        spark,
        reg,
        str(tmp_path / "lake"),
        fixed_time="2024-03-01 10:00:00",
        register_catalog=False,
        with_lineage=True,
    )
    written = job.run_batch(job.read_json(str(src)))
    back = spark.read.parquet(written["s1"])
    rows = {r["user"]: r for r in back.collect()}
    assert rows[1]["_source_file"].endswith("a.json")
    assert rows[2]["_source_file"].endswith("b.json")
    assert str(rows[1]["_ingested_at"]) == "2024-03-01 10:00:00"


def test_luhn_validated_card_masking(spark):
    """mask_pii_extended: the Luhn-valid PAN masks, the checksum-failing
    16-digit id survives, emails/IPs/SSNs mask — precision semantics."""
    from pyspark.sql import functions as F

    from rtdl_spark.functions.pii import luhn_valid, mask_pii_extended

    df = spark.createDataFrame(
        [
            ("pay 4539 1488 0343 6467 now",),      # valid Luhn
            ("order 1234-5678-9012-3456 ref",),     # invalid Luhn
            ("bob@x.io from 192.168.0.1",),
            ("4539148803436467",),                  # bare valid PAN
        ],
        "s string",
    )
    got = [r["m"] for r in df.select(mask_pii_extended("s").alias("m")).collect()]
    assert got[0] == "pay ### now"
    assert got[1] == "order 1234-5678-9012-3456 ref"
    assert got[2] == "### from ###"
    assert got[3] == "###"

    checks = spark.createDataFrame(
        [("4539148803436467",), ("1234567890123456",), ("",)], "d string"
    ).select(luhn_valid(F.col("d")).alias("ok")).collect()
    assert [r["ok"] for r in checks] == [True, False, False]


def test_schema_diff_report(spark):
    """schema_diff: added/removed/type-changed columns between batch
    schemas, nested types compared by their full simpleString."""
    from rtdl_spark.ingest.pipeline import schema_diff

    a = spark.createDataFrame([(1, "x", 1.0)], "id int, name string, v double")
    b = spark.createDataFrame([(1, 2, [1])], "id int, v bigint, tags array<int>")
    d = schema_diff(a.schema, b.schema)
    assert d == {
        "added": ["tags"],
        "removed": ["name"],
        "changed": {"v": ("double", "bigint")},
    }


def test_batch_metrics_row_accounting(spark, registry, tmp_path):
    """collect_metrics: n_input / n_control / n_unrouted / per-stream
    written counts add up; per-stream counts ride the write via observe
    (no extra pass)."""
    path = write_events(
        tmp_path,
        [
            {"stream_id": STREAM_ID, "a": 1},
            {"stream_id": STREAM_ID, "a": 2},
            {"stream_id": "", "type": "rtdl_205"},
            {"stream_id": "nobody-home", "a": 3},
        ],
    )
    job = make_job(spark, registry, tmp_path)
    written = job.run_batch(job.read_json(path), collect_metrics=True)
    m = job.last_metrics
    assert set(written) == {STREAM_ID}
    assert m["n_input"] == 4
    assert m["n_control"] == 1
    assert m["n_unrouted"] == 1
    assert m["streams"] == {STREAM_ID: 2}


def test_ingest_json_dir_idempotent_on_batch_replay(spark, sf_dir, tmp_path):
    """Re-running a committed batch_id is a no-op (no duplicate rows);
    a different batch_id ingests normally."""
    import json as _json

    from rtdl_spark.config.registry import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob

    registry = StreamRegistry(str(tmp_path / "batch_cfg"))
    cfg = registry.create(
        StreamConfig(
            stream_id="sb1",
            active=True,
            file_store_type_id=1,
            partition_time_id=2,
            compression_type_id=1,
            folder_name="lakeb",
            functions="ingester",
            message_type="events",
        )
    )
    src = tmp_path / "batch_src"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for i in range(20):
            f.write(_json.dumps({
                "stream_id": cfg.stream_id, "type": "events", "event_id": i
            }) + "\n")

    job = IngestJob(spark, registry, str(tmp_path / "lake"),
                    register_catalog=False)
    log = str(tmp_path / "batch_log")
    out1 = job.ingest_json_dir(str(src), batch_id="run-1",
                               commit_log_dir=log)
    assert out1
    n1 = job.read_table(cfg, "events").count()
    assert n1 == 20

    # replay: same batch_id -> skipped
    out2 = job.ingest_json_dir(str(src), batch_id="run-1",
                               commit_log_dir=log)
    assert out2 == {}
    assert job.read_table(cfg, "events").count() == 20

    # new batch_id -> appends
    job.ingest_json_dir(str(src), batch_id="run-2", commit_log_dir=log)
    assert job.read_table(cfg, "events").count() == 40


def test_metadata_compaction_selection_matches_walk(spark, sf_dir, tmp_path):
    """The _metadata-based partition stats agree with the os.walk stats
    on file counts and bytes, and metadata-selected compaction rewrites
    the same partitions to the same file counts."""
    from pyspark.sql import functions as F

    from rtdl_spark.ingest.compact import (
        compact_lake,
        partition_file_stats,
        partition_file_stats_metadata,
    )
    from rtdl_spark.ingest.pipeline import BUCKET_COL, TABLE_COL

    root = str(tmp_path / "clake")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    (
        docs.withColumn(TABLE_COL, F.lit("docs"))
        .withColumn(BUCKET_COL, (F.col("doc_id") % 2).cast("string"))
        .repartition(12)
        .write.partitionBy(TABLE_COL, BUCKET_COL)
        .parquet(root)
    )
    walk = {(s["table"], s["bucket"]): s for s in partition_file_stats(spark, root)}
    meta = {(s["table"], s["bucket"]): s
            for s in partition_file_stats_metadata(spark, root)}
    assert set(walk) == set(meta)
    for k in walk:
        assert walk[k]["n_files"] == meta[k]["n_files"]
        assert walk[k]["bytes"] == meta[k]["bytes"]

    done = compact_lake(spark, root, min_files=2, use_metadata=True)
    assert set(done) == set(walk)
    assert all(n == 1 for n in done.values())  # tiny partitions -> 1 file
    after = {(s["table"], s["bucket"]): s["n_files"]
             for s in partition_file_stats_metadata(spark, root)}
    assert all(v == 1 for v in after.values())
    assert spark.read.parquet(root).count() == docs.count()


def test_dest_root_uri_dispatch_all_store_types(spark, tmp_path):
    """A12–A16: the writer varies ONLY the URI prefix per store type; the
    Hadoop FS layer owns the transport. Pin the exact URI for each of the
    reference's five stores (constants/file_store_types.json)."""
    reg = StreamRegistry(str(tmp_path / "cfg"))
    job = make_job(spark, reg, tmp_path)

    def cfg(**kw):
        return StreamConfig(stream_id=STREAM_ID, folder_name="f", **kw)

    assert job.dest_root(cfg(file_store_type_id=1)).endswith("lake/f")
    assert (
        job.dest_root(cfg(file_store_type_id=2, bucket_name="b"))
        == "s3a://b/f"
    )
    assert (
        job.dest_root(cfg(file_store_type_id=3, bucket_name="b"))
        == "gs://b/f"
    )
    assert (
        job.dest_root(cfg(file_store_type_id=4, bucket_name="c"))
        == "abfss://c/f"
    )
    assert (
        job.dest_root(
            cfg(file_store_type_id=5, namenode_host="nn", namenode_port=9000)
        )
        == "hdfs://nn:9000/f"
    )


def test_remote_store_write_through_non_local_hadoop_fs(spark, tmp_path):
    """A13–A16 composition proof: the partitioned writer + catalog path
    works through a NON-local Hadoop filesystem, not just file://. A
    viewfs:// mount table (Hadoop's federation FS, bundled in
    hadoop-client) plays the remote store: the pipeline writes to
    viewfs://cluster/<folder> exactly as it would to s3a://bucket/<folder>
    — scheme resolution, qualified paths, and the commit-protocol renames
    all run through the foreign-FS dispatch layer."""
    from unittest import mock

    import rtdl_spark.ingest.pipeline as pipemod

    backing = tmp_path / "remote_lake"
    backing.mkdir()
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set(
        "fs.viewfs.mounttable.cluster.link./remoteFolder",
        f"file://{backing}/remoteFolder",
    )

    reg = StreamRegistry(str(tmp_path / "cfg"))
    reg.create(
        StreamConfig(
            stream_id=STREAM_ID,
            message_type="remote-msg",
            file_store_type_id=2,  # aws-shaped: prefix + bucket + folder
            bucket_name="cluster",
            folder_name="remoteFolder",
            partition_time_id=2,
            compression_type_id=1,
            functions="ingester",
        )
    )
    path = write_events(
        tmp_path,
        [
            {"stream_id": STREAM_ID, "name": "r1", "v": 1},
            {"stream_id": STREAM_ID, "name": "r2", "v": 2},
        ],
    )
    job = make_job(spark, reg, tmp_path)
    # the writer is store-agnostic: point the aws prefix at the mounted
    # non-local scheme; everything downstream is the production code path
    with mock.patch.dict(
        pipemod.STORE_URI_PREFIX, {"aws": "viewfs://"}
    ):
        written = job.ingest_json_dir(path)
    dest = written[STREAM_ID]
    assert dest == "viewfs://cluster/remoteFolder"

    back = spark.read.parquet(dest)
    assert back.count() == 2
    assert {r["name"] for r in back.collect()} == {"r1", "r2"}
    # partitioned layout landed on the backing store via the mount
    sub = os.listdir(backing / "remoteFolder")
    assert any(s.startswith("rtdl_table=") for s in sub), sub


def test_ingest_json_dir_reads_gzipped_spool(spark, tmp_path):
    """A1 at scale: envelope spools arrive gzip-compressed from edge
    collectors (Spark's text/JSON sources decompress .gz transparently,
    one stream per file — the codec path a 100 TB backfill actually
    uses). The replay must land identical rows from a .jsonl.gz spool as
    from the plain JSONL twin."""
    import gzip
    import json

    from rtdl_spark.config import StreamConfig, StreamRegistry
    from rtdl_spark.ingest import IngestJob

    registry = StreamRegistry(str(tmp_path / "configs"))
    cfg = registry.create(
        StreamConfig(
            stream_id="gz-stream",
            message_type="evt",
            folder_name="gzFolder",
        )
    )
    msgs = [
        {"stream_id": "gz-stream", "type": "evt", "i": i, "tag": f"t{i}"}
        for i in range(25)
    ]
    plain = tmp_path / "spool_plain"
    gzd = tmp_path / "spool_gz"
    plain.mkdir()
    gzd.mkdir()
    (plain / "m.jsonl").write_text(
        "\n".join(json.dumps(m) for m in msgs) + "\n"
    )
    with gzip.open(gzd / "m.jsonl.gz", "wt") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")

    def land(spool, lake):
        job = IngestJob(
            spark, registry, str(tmp_path / lake),
            fixed_time="2024-06-01 00:00:00",
        )
        job.ingest_json_dir(str(spool))
        return {
            (r["i"], r["tag"])
            for r in job.read_table(cfg, "evt").select("i", "tag").collect()
        }

    got_plain = land(plain, "lake_plain")
    got_gz = land(gzd, "lake_gz")
    assert got_gz == got_plain == {(m["i"], m["tag"]) for m in msgs}


def _one_stream_registry(tmp_path, folder, **kw):
    reg = StreamRegistry(str(tmp_path / "configs"))
    reg.create(
        StreamConfig(
            stream_id=STREAM_ID,
            message_type="test-msg",
            folder_name=folder,
            partition_time_id=2,
            **kw,
        )
    )
    return reg


def _table_counts(spark, db, table):
    return {
        (r["rtdl_table"], r["rtdl_bucket"]): r["n"]
        for r in spark.sql(
            f"SELECT rtdl_table, rtdl_bucket, count(*) AS n FROM {db}.{table} "
            "GROUP BY rtdl_table, rtdl_bucket"
        ).collect()
    }


def test_catalog_table_per_message_type(spark, tmp_path):
    """Two message types in one stream root register as two tables, each
    with only its own rows (rtdl: one Dremio dataset per type), null
    bucket included; a later batch's new bucket is added to the existing
    table."""
    from rtdl_spark.ingest import IngestJob

    spark.sql("DROP DATABASE IF EXISTS leakFolder CASCADE")
    reg = _one_stream_registry(tmp_path, "leakFolder")
    job = IngestJob(spark, reg, str(tmp_path / "lake"),
                    time_source="event")
    def ev(ts, **kw):
        return {"stream_id": STREAM_ID, "ts": f"2024-02-{ts}:00:00", **kw}

    p1 = write_events(tmp_path, [
        ev("15 10", type="page_view"),
        ev("15 11", type="page_view"),
        ev("16 09", type="page_view"),
        {"stream_id": STREAM_ID, "type": "page_view"},  # null bucket
        ev("15 10"),
        ev("15 12"),
    ], name="b1")
    p2 = write_events(tmp_path, [ev("17 08", type="page_view")], name="b2")
    job.ingest_json_dir(p1)
    assert _table_counts(spark, "leakFolder", "page_view") == {
        ("page_view", "2024-02-15"): 2, ("page_view", "2024-02-16"): 1,
        ("page_view", None): 1,
    }
    assert _table_counts(spark, "leakFolder", "test_msg") == {
        ("test-msg", "2024-02-15"): 2,
    }
    job.ingest_json_dir(p2)
    assert _table_counts(spark, "leakFolder", "page_view") == {
        ("page_view", "2024-02-15"): 2, ("page_view", "2024-02-16"): 1,
        ("page_view", "2024-02-17"): 1, ("page_view", None): 1,
    }
    assert _table_counts(spark, "leakFolder", "test_msg") == {
        ("test-msg", "2024-02-15"): 2,
    }


def test_catalog_recovers_earlier_buckets_with_escaped_type(spark, tmp_path):
    """A new IngestJob over an existing lake registers the buckets earlier
    jobs wrote, found under the type's partition directory — including a
    type value Spark escapes in directory names (%XX)."""
    from rtdl_spark.ingest import IngestJob

    odd = "a/b:c%d'e=f"
    spark.sql("DROP DATABASE IF EXISTS escFolder CASCADE")
    reg = _one_stream_registry(tmp_path, "escFolder")
    lake = str(tmp_path / "lake")
    old = write_events(tmp_path, [
        {"stream_id": STREAM_ID, "type": odd, "i": 1},
        {"stream_id": STREAM_ID, "type": odd, "i": 2},
        {"stream_id": STREAM_ID, "type": "other", "i": 3},
    ], name="old")
    IngestJob(spark, reg, lake, fixed_time="2024-02-14 00:00:00",
              register_catalog=False).ingest_json_dir(old)
    assert os.path.isdir(os.path.join(lake, "escFolder",
                                      "rtdl_table=a%2Fb%3Ac%25d%27e%3Df"))
    new = write_events(tmp_path, [
        {"stream_id": STREAM_ID, "type": odd, "i": 4},
    ], name="new")
    IngestJob(spark, reg, lake,
              fixed_time="2024-02-15 00:00:00").ingest_json_dir(new)
    rows = spark.sql(
        "SELECT i, rtdl_table, rtdl_bucket FROM escFolder.a_b_c_d_e_f"
    ).collect()
    got = sorted((r["i"], r["rtdl_table"], r["rtdl_bucket"]) for r in rows)
    assert got == [
        (1, odd, "2024-02-14"), (2, odd, "2024-02-14"), (4, odd, "2024-02-15"),
    ]
    # "other" was never written by a registering job, so it has no table
    assert "other" not in {
        r["tableName"] for r in spark.sql("SHOW TABLES IN escFolder").collect()
    }


def _multi_root_registry(tmp_path, folders):
    """One stream per folder; stream i owns type t<i>."""
    reg = StreamRegistry(str(tmp_path / "configs"))
    for i, folder in enumerate(folders):
        reg.create(
            StreamConfig(
                stream_id=f"s{i}",
                message_type=f"t{i}",
                folder_name=folder,
                partition_time_id=2,
            )
        )
    return reg


def _set(reg, stream_id, **fields):
    import dataclasses

    reg.update(dataclasses.replace(reg.get(stream_id), **fields))


def _events_for(n_streams, per_stream):
    return [
        {"stream_id": f"s{i}", "seq": i * 1000 + k}
        for i in range(n_streams)
        for k in range(per_stream)
    ]


def test_streams_sharing_a_root_land_every_row_once(spark, tmp_path):
    """Two configs with one folder_name land in one destination root
    (their appends stage under the root's shared _temporary directory, so
    they must not overlap), beside a third root. Every row lands exactly
    once."""
    from rtdl_spark.ingest import IngestJob

    reg = _multi_root_registry(tmp_path, ["shared", "shared", "solo"])
    job = IngestJob(spark, reg, str(tmp_path / "lake"),
                    fixed_time="2024-02-15 00:00:00", register_catalog=False)
    path = write_events(tmp_path, _events_for(3, 20))
    written = job.run_batch(job.read_json(path))
    assert set(written) == {"s0", "s1", "s2"}
    assert written["s0"] == written["s1"] != written["s2"]
    out = spark.read.parquet(written["s0"])
    got = sorted(r["seq"] for r in out.collect())
    assert got == sorted(e["seq"] for e in _events_for(2, 20))
    assert spark.read.parquet(written["s2"]).count() == 20


def _lake_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def test_failed_staged_write_lands_nothing(spark, tmp_path, monkeypatch):
    """The streams of a batch are written in one staged write. When it
    fails (here a chain step of the middle stream fails inside the write
    job), run_batch raises; no file lands in any stream root, nothing is
    catalogued, no staging directory is left and the batch cache is
    released."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from rtdl_spark.ingest import IngestJob

    for db in ("r0", "r1", "r2"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    reg = _multi_root_registry(tmp_path, ["r0", "r1", "r2"])
    _set(reg, "s1", functions="ingester,boom")

    def boom(seq):
        raise RuntimeError("boom in the write")

    fail = F.udf(boom, LongType())
    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-02-15 00:00:00",
        extra_functions={"boom": lambda df: df.withColumn("seq", fail("seq"))},
    )
    raw = job.read_json(write_events(tmp_path, _events_for(3, 5)))
    released = []
    unpersist = type(raw).unpersist

    def tracked_unpersist(self, *a, **kw):
        released.append(True)
        return unpersist(self, *a, **kw)

    monkeypatch.setattr(type(raw), "unpersist", tracked_unpersist)
    with pytest.raises(Exception, match="boom in the write"):
        job.run_batch(raw)
    assert released
    assert _lake_files(str(tmp_path / "lake")) == []
    assert not any(
        "_rtdl_staging" in d for d, _dirs, _files in os.walk(tmp_path / "lake")
    )
    assert not any(
        spark.catalog.tableExists(f"r{i}.t{i}") for i in range(3)
    )


def test_streams_with_different_codecs_write_separately(spark, tmp_path):
    """Streams are staged together only when they share a codec: two
    codecs make two writes, and each stream's files carry its own."""
    from rtdl_spark.ingest import IngestJob

    reg = _multi_root_registry(tmp_path, ["snap", "gz"])
    _set(reg, "s1", compression_type_id=2)
    job = IngestJob(spark, reg, str(tmp_path / "lake"),
                    fixed_time="2024-02-15 00:00:00", register_catalog=False)
    raw = job.read_json(write_events(tmp_path, _events_for(2, 5)))
    written = {}
    jobs = _jobs_of(spark, "ingest-codecs",
                    lambda: written.update(job.run_batch(raw)))
    assert jobs == 3  # the probe and one write per codec
    for sid, suffix in (("s0", ".snappy.parquet"), ("s1", ".gz.parquet")):
        files = [f for f in _lake_files(written[sid]) if f.endswith(".parquet")]
        assert files and all(f.endswith(suffix) for f in files), files
        assert spark.read.parquet(written[sid]).count() == 5


def test_chain_step_that_empties_a_stream_lands_nothing(spark, tmp_path):
    """A chain step that removes every row of a stream leaves no directory
    and no catalog table for it, and the stream is absent from the
    result; the stream staged beside it lands and is catalogued."""
    from pyspark.sql import functions as F

    from rtdl_spark.ingest import IngestJob

    for db in ("e0", "e1"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    reg = _multi_root_registry(tmp_path, ["e0", "e1"])
    _set(reg, "s0", functions="ingester,drop_all")
    job = IngestJob(
        spark, reg, str(tmp_path / "lake"), fixed_time="2024-02-15 00:00:00",
        extra_functions={"drop_all": lambda df: df.filter(F.lit(False))},
    )
    raw = job.read_json(write_events(tmp_path, _events_for(2, 5)))
    written = {}
    jobs = _jobs_of(spark, "ingest-emptied",
                    lambda: written.update(job.run_batch(raw)))
    assert jobs == 2
    assert set(written) == {"s1"}
    assert not os.path.exists(tmp_path / "lake" / "e0")
    assert not spark.catalog.tableExists("e0.t0")
    assert os.listdir(tmp_path / "lake") == ["e1"]
    n = spark.sql("SELECT count(*) AS n FROM e1.t1").collect()[0]["n"]
    assert n == 5


def test_control_batch_runs_no_emptiness_job(spark, tmp_path):
    """A batch with control messages reloads the registry and then stages
    every stream of the new configs in one write, with no job asking
    whether a stream is empty: the stream without rows stages no files. A
    control-only batch runs the probe alone."""
    from rtdl_spark.ingest import IngestJob

    reg = _multi_root_registry(tmp_path, ["c0", "c1"])
    job = IngestJob(spark, reg, str(tmp_path / "lake"),
                    fixed_time="2024-02-15 00:00:00", register_catalog=False)
    ctrl = {"stream_id": "", "type": "rtdl_205"}
    raw = job.read_json(write_events(tmp_path, [ctrl] + _events_for(1, 3)))
    written = {}
    jobs = _jobs_of(spark, "ingest-control",
                    lambda: written.update(job.run_batch(raw)))
    assert set(written) == {"s0"}
    assert jobs == 2
    assert spark.read.parquet(written["s0"]).count() == 3
    assert os.listdir(tmp_path / "lake") == ["c0"]
    raw = job.read_json(write_events(tmp_path, [ctrl], "ctrl_only"))
    written = {}
    jobs = _jobs_of(spark, "ingest-control-only",
                    lambda: written.update(job.run_batch(raw)))
    assert (written, jobs) == ({}, 1)
