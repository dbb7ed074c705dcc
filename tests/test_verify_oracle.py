"""The local oracle gate reports what it ran, and refuses unknown names
before it starts Spark."""

from __future__ import annotations

import tools.verify_oracle as vo


def test_plan_run_splits_run_skipped_unknown():
    names = ["a", "b", "c", "d"]
    assert vo.plan_run(names) == (names, [], [])
    assert vo.plan_run(names, only={"b", "d"}, skip={"d"}) == (
        ["b"],
        ["d"],
        [],
    )
    run, skipped, unknown = vo.plan_run(
        names, only={"a", "no_such_query"}, skip={"typo"}
    )
    assert (run, skipped, unknown) == (["a"], [], ["no_such_query", "typo"])


def test_unknown_query_name_exits_before_spark(monkeypatch, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started for an invalid run")

    monkeypatch.setattr(vo, "get_session", no_spark)
    rc = vo.main(["/nonexistent", "x_dedup_components,no_such_query"])
    assert rc == 2
    assert "no_such_query" in capsys.readouterr().err

