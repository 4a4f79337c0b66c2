"""The one bounded-replay harness (``stateful.run_bounded_replay``) and the
one versioned-store fold (``pipeline.fold_versioned_store``).

Every bounded replay hands its stream, checkpoint, sink start, checked wait
and cleanup to the harness, and the merge/SCD2/compaction replays share one
fold. These tests pin what that buys: a replay that fails cleans up after
itself, and there is no second place that starts a bounded query or reads
a store version.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

import kafka_exercise_spark
from kafka_exercise_spark.streaming import stateful
from kafka_exercise_spark.streaming.sources import land_events_replay

PACKAGE = os.path.dirname(kafka_exercise_spark.__file__)


def _sources() -> dict[str, str]:
    files = glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    # an empty walk would make the checks below vacuous
    assert len(files) >= 20, files
    out = {}
    for path in files:
        with open(path) as f:
            out[os.path.relpath(path, PACKAGE)] = f.read()
    return out


def test_a_failing_replay_propagates_and_cleans_up(spark, sf_dir, monkeypatch):
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    def boom(batch_df, batch_id, out):
        assert os.path.isdir(out)
        raise RuntimeError("harness fence: batch rejected")

    landing = land_events_replay(spark, sf_dir)
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    with pytest.raises(StreamingQueryException, match="harness fence: batch rejected"):
        stateful.run_bounded_replay(
            spark, landing, name="harness_fence", foreach_batch=boom
        )
    assert [q.name for q in spark.streams.active if q.name == "harness_fence"] == []
    assert made and not [d for d in made if os.path.exists(d)]


def test_only_the_sinks_start_a_bounded_query():
    found = sorted(
        path
        for path, text in _sources().items()
        if "trigger(availableNow" in text.replace(" ", "")
    )
    assert found == ["streaming/sinks.py"]
    waits = sorted(p for p, text in _sources().items() if ".awaitTermination(" in text)
    assert waits == ["streaming/stateful.py"]


def test_only_the_fold_reads_a_store_version():
    users = []
    for path, text in _sources().items():
        for top in ast.parse(text).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Name) and node.id == "_version_before":
                    users.append((path, getattr(top, "name", None)))
    assert users == [("streaming/pipeline.py", "fold_versioned_store")]


def test_replays_leave_setup_to_the_harness():
    import __spark_entry__ as entrymod
    from kafka_exercise_spark.serving import serving_lake_rollup

    queries = entrymod.queries()
    replays = [fn for name, fn in queries.items() if name.startswith("streaming_")]
    replays += [serving_lake_rollup, stateful.streaming_distinct_state_replay]
    assert len(replays) == 18
    for fn in replays:
        src = inspect.getsource(fn)
        for token in ("mkdtemp", "rmtree", "file_stream(", '"ckpt"', "checkpointLocation"):
            assert token not in src, (fn.__name__, token)
