"""Stream checkpoints under the engine's checkpoint file manager.

``session.ENGINE_CONF`` commits every checkpoint log file through
``FileSystemBasedCheckpointFileManager`` instead of Spark's
``FileContext`` default (which spawns a ``readlink`` process per side of
each rename when Hadoop has no native library).  These tests pin

- that a ``get_spark`` session resolves that manager;
- the exactly-once contract under it: a batch whose commit-log entry is
  lost re-runs without duplicating the file sink's rows, and a checkpoint
  written by Spark's default manager resumes with only new input;
- that a drain renders its executed plan only for an active plan capture;
- that a drain creates its checkpoint, state and sink files without a
  ``chmod`` process (``session.local_fs_conf``).
"""

from __future__ import annotations

import json
import os

import pytest

from agentic_etl_poc_spark import plan_capture
from agentic_etl_poc_spark.runtime import run_from_plan
from agentic_etl_poc_spark.streaming.events import _note_executed_stream_plan
from tests.conftest import chmods, count_spawns

MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing"


def _manager_class(spark, path: str) -> str:
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = getattr(jvm, _PKG).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), hconf
    )
    return fm.getClass().getName()


def _add_file(topic, name: str, ids) -> None:
    os.makedirs(topic, exist_ok=True)
    with open(os.path.join(topic, name), "w") as f:
        for i in ids:
            ts = f"2024-01-01T00:{i % 60:02d}:00"
            f.write(json.dumps({"event_id": i, "ts": ts}) + "\n")


def _drain(spark, topic, out) -> dict:
    res = run_from_plan(
        spark,
        f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp"
transform:
  sql: SELECT event_id, ts FROM input_df
load:
  to: parquet
  file_path: {out}
checks:
  min_rows: 1
  nonnull_cols: [event_id]
""",
        send_alert=lambda ch, msg: "sent",
        report_status=lambda step, detail: "ok",
    )
    assert res["status"] == "ok", res
    return res


def _ids(spark, out) -> list[int]:
    rows = spark.read.parquet(str(out)).select("event_id").collect()
    return sorted(r[0] for r in rows)


@pytest.fixture
def engine_manager(spark):
    """The session's checkpoint-manager conf, restored after the test
    whatever the test set or unset."""
    saved = spark.conf.get(MANAGER_KEY)
    yield saved
    spark.conf.set(MANAGER_KEY, saved)


def test_get_spark_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    assert _manager_class(spark, str(tmp_path)) == (
        f"{_PKG}.FileSystemBasedCheckpointFileManager"
    )


def test_lost_commit_entry_reruns_batch_without_duplicates(spark, tmp_path):
    """Deleting ``commits/0`` makes the next drain re-run batch 0 from its
    offset-log entry.  The file sink's own log already holds batch 0, so
    the re-run adds no rows, and the commit entry is written again.  Its
    stale ``.0.crc`` stays behind on purpose: ``FileSystem.rename``
    replaces it, where Spark's default manager refuses the rename and
    fails the query."""
    topic, out = tmp_path / "topic", tmp_path / "out"
    _add_file(topic, "a.json", range(20))
    _drain(spark, topic, out)
    before = _ids(spark, out)
    assert before == list(range(20))

    commit0 = tmp_path / "out_checkpoint" / "commits" / "0"
    assert commit0.is_file()
    os.remove(commit0)
    _drain(spark, topic, out)
    assert _ids(spark, out) == before
    assert commit0.is_file()


def test_default_manager_checkpoint_resumes_with_new_input_only(
    spark, tmp_path, engine_manager
):
    """A checkpoint written by Spark's default manager (the conf unset)
    is resumed by the engine's manager: only the file added since loads."""
    topic, out = tmp_path / "topic", tmp_path / "out"
    _add_file(topic, "a.json", range(10))
    spark.conf.unset(MANAGER_KEY)
    assert _manager_class(spark, str(tmp_path)) == (
        f"{_PKG}.FileContextBasedCheckpointFileManager"
    )
    _drain(spark, topic, out)
    assert _ids(spark, out) == list(range(10))

    spark.conf.set(MANAGER_KEY, engine_manager)
    _add_file(topic, "b.json", range(100, 105))
    res = _drain(spark, topic, out)
    assert _ids(spark, out) == [*range(10), *range(100, 105)]
    assert res["dq"]["rows"] == 15


def test_drain_spawns_no_chmod(spark, tmp_path):
    """The offset, commit, metadata and file-sink logs, the part files and
    every ``.crc`` twin of a first drain get their modes in the JVM."""
    topic, out = tmp_path / "topic", tmp_path / "out"
    _add_file(topic, "a.json", range(10))
    res, commands = count_spawns(spark, lambda: _drain(spark, topic, out))
    assert res["dq"]["rows"] == 10
    assert chmods(commands) == []


class _CountingQuery:
    """A stream query handle whose plan rendering counts its calls."""

    def __init__(self):
        self.calls = 0
        self._jsq = self

    def explainInternal(self, extended: bool) -> str:
        self.calls += 1
        return "== Physical Plan =="


def test_stream_plan_rendered_only_inside_capture():
    q = _CountingQuery()
    _note_executed_stream_plan(q)
    assert q.calls == 0
    with plan_capture.capture() as got:
        _note_executed_stream_plan(q)
    assert q.calls == 1
    assert got == [("stream_exec", "== Physical Plan ==")]
