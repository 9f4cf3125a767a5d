"""bench.py's run order: the scale workers, each in its own pretouched
JVM, run before the headline session opens, so the two heaps are never
resident at once.  Checked with stubs; no JVM starts."""

import pytest

import bench


class _Stop(Exception):
    pass


def test_scale_workers_run_before_the_headline_session(monkeypatch):
    calls = []

    def record(name, ret):
        def fn(*args, **kwargs):
            calls.append(name)
            return ret

        return fn

    def get_spark(*args, **kwargs):
        calls.append("get_spark")
        raise _Stop

    monkeypatch.setattr(bench, "_probe", record("_probe", {}))
    monkeypatch.setattr(bench, "ensure_transcripts", record("ensure_transcripts", "unused"))
    monkeypatch.setattr(bench, "_scale_meta", record("_scale_meta", {}))
    monkeypatch.setattr("mq_to_db_spark.session.get_spark", get_spark)

    with pytest.raises(_Stop):
        bench.run("sf0.1", cpus=1)
    assert calls == ["_probe", "ensure_transcripts", "_scale_meta", "get_spark"]
