"""Crashed staging directories are reaped by both VACUUMs.

Every writer stages under ``<tag>-<uuid>`` (``_STAGING_TAGS``); a crash
between the staged write and its promote leaves that directory behind.
Both VACUUM forms must reap it once it is older than the retention
window and keep it while it is younger (a live writer may still be
promoting from it)."""

from __future__ import annotations

import os
import time

import pytest

from rtdl_spark.sources.delta_writer import (
    _STAGING_TAGS,
    vacuum_delta_native,
    vacuum_delta_native_distributed,
    write_delta_native,
)

_DAY_MS = 24 * 3600 * 1000


def _leftover(root: str, name: str, age_s: float) -> str:
    path = os.path.join(root, name, "part-00000-x.snappy.parquet")
    os.makedirs(os.path.dirname(path))
    with open(path, "wb") as f:
        f.write(b"PAR1")
    t = time.time() - age_s
    os.utime(path, (t, t))
    return path


@pytest.mark.parametrize("tag", _STAGING_TAGS)
@pytest.mark.parametrize("distributed", [False, True])
def test_crashed_staging_dir_reaped_after_retention(
    spark, tmp_path, tag, distributed
):
    root = str(tmp_path / "t")
    write_delta_native(spark, spark.range(0, 10), root, checkpoint_interval=0)
    old = _leftover(root, f"{tag}-0123456789ab", age_s=2 * 24 * 3600)
    fresh = _leftover(root, f"{tag}-ba9876543210", age_s=0)
    if distributed:
        assert vacuum_delta_native_distributed(
            spark, root, retain_ms=_DAY_MS
        ) == 1
    else:
        assert vacuum_delta_native(spark, root, retain_ms=_DAY_MS) == [old]
    assert not os.path.exists(old)
    assert os.path.exists(fresh)
