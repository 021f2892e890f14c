"""Crash-recovery e2e for the batch jobnet + registry COMPOSITION (r12
verdict ask #4).

Queue resume and registry replay are each unit-tested; this module
tests what neither covers alone: kill the runner mid-net — after a
registry append has already landed, before the queue records the job —
re-run the same net, and require (a) the resume actually resumes
(pre-kill jobs skip), (b) no double-append survives, and (c) the FINAL
state is bit-identical to an uninterrupted run of the same snapshots.

Kill points (4, walking the registry-bearing spine of
examples/crawl_home):

- after ``history_dedup``  — band registry rewritten (insert-delta,
  snapshot-labeled) + fresh table written; queue not saved. The resume
  re-runs the job against a registry that already contains this
  snapshot's bands — the probe's same-snapshot exclusion is what keeps
  the batch from deduping against itself.
- after ``span_history``   — span-anchor registry APPENDED (append-only
  policy); the resume double-appends the same labeled anchors and the
  in-net ``compact_span_registry`` must collapse them.
- after ``publish``        — corpus insert-delta landed; the resume
  must replace, not duplicate, the snapshot's corpus rows.
- mid ``history_dedup``    — the nastiest window: the registry append
  landed but the fresh TABLE write did not (kill injected at the
  save_table seam). Downstream state is torn; the re-run must heal it.

The crash is a non-Job exception (the runner records JobFailure/
ApplicationError/OSError as 'failed'; anything else IS the crash path:
it propagates, the post-yield queue.save never runs, and the on-disk
task stays 'running' — which restore maps back to 'waiting')."""

from __future__ import annotations

import os

import pytest

from bricolage_spark.context import Context
from bricolage_spark.engine import SparkEngine, TableSpec
from bricolage_spark.runner import JobNetRunner

EX_HOME = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples",
    "crawl_home",
)
NET = os.path.join(EX_HOME, "crawl", "crawl.jobnet")
SNAPS = ((0, "2024-01-01"), (1, "2024-01-02"))


class SimulatedKill(BaseException):
    """Raised at a kill point. Derives from BaseException so no job- or
    engine-level ``except Exception`` cleanup path can swallow it —
    like a real SIGKILL, nothing downstream of the kill runs."""


def _run_net(runner, snap, date, **kw):
    return runner.run(
        NET, cmd_variables={"snap": str(snap), "data_date": date}, **kw
    )


def _final_state(engine) -> dict:
    """Everything the net accumulates, as plain comparable values."""
    from pyspark.sql import functions as SF

    corpus = engine.table("corpus")
    span = engine.bucketed_table("crawl_span_registry", "ahash", 4)
    return {
        "corpus": frozenset(
            (r.doc_id, r.snapshot, r.h)
            for r in corpus.select(
                "doc_id", "snapshot", SF.md5("text").alias("h")
            ).collect()
        ),
        "band_registry": frozenset(
            map(tuple, engine.table("crawl_registry").collect())
        ),
        "span_registry": frozenset(map(tuple, span.collect())),
        "fresh_count": engine.table("snapshot_fresh").count(),
        "span_fresh_count": engine.table("snapshot_span_fresh").count(),
        "corpus_report": frozenset(
            map(tuple, engine.table("corpus_report").collect())
        ),
        "host_rank_count": engine.table("host_rank").count(),
    }


@pytest.fixture(scope="module")
def control_state(spark, tmp_path_factory):
    """The uninterrupted two-snapshot run, captured as plain data
    BEFORE any crash variant executes (engines share the session's
    temp-view namespace, so states must be collected, not held as
    live DataFrames)."""
    wh = tmp_path_factory.mktemp("crash_control")
    engine = SparkEngine(spark, str(wh / "warehouse"))
    runner = JobNetRunner(
        Context(engine, home=EX_HOME), queue_dir=str(wh / "queue")
    )
    for snap, date in SNAPS:
        report = _run_net(runner, snap, date)
        assert report.success, report.failed
    return _final_state(engine)


KILL_POINTS = (
    "after:crawl/history_dedup",
    "after:crawl/span_history",
    "after:crawl/publish",
    "mid:snapshot_fresh",
)


@pytest.mark.parametrize("kill_point", KILL_POINTS)
def test_crash_between_registry_append_and_queue_save_heals_on_rerun(
    kill_point, control_state, spark, tmp_path, monkeypatch
):
    wh = tmp_path / "crash"
    engine = SparkEngine(spark, str(wh / "warehouse"))
    ctx = Context(engine, home=EX_HOME)
    runner = JobNetRunner(ctx, queue_dir=str(wh / "queue"))

    # snapshot 0 lands uninterrupted
    report = _run_net(runner, *SNAPS[0])
    assert report.success, report.failed

    # arm the kill for snapshot 1
    armed = {"on": True}
    mode, _, target = kill_point.partition(":")
    if mode == "after":
        # fires in the runner loop AFTER the job's side effects and its
        # in-memory transition, BEFORE the queue's post-yield save —
        # exactly the "registry appended, queue not saved" window
        def bomb(ref="", **kw):
            if armed["on"] and ref == target:
                armed["on"] = False
                raise SimulatedKill(ref)

        ctx.hooks.after_job.append(bomb)
    else:
        # mid-job: the registry append inside history_dedup has landed,
        # the fresh-table write is the very next save_table call
        real_save = SparkEngine.save_table

        def killing_save(self, df, name, *a, **kw):
            if (
                armed["on"]
                and TableSpec.parse(str(name)).view_name == target
            ):
                armed["on"] = False
                raise SimulatedKill(str(name))
            return real_save(self, df, name, *a, **kw)

        monkeypatch.setattr(SparkEngine, "save_table", killing_save)

    with pytest.raises(SimulatedKill):
        _run_net(runner, *SNAPS[1])

    # the crash window is real: the queue survived on disk, unfinished,
    # and the band registry ALREADY holds this snapshot's labeled rows
    # (the append landed before the kill in every kill point)
    qfile = os.path.join(str(wh / "queue"), "crawl__crawl.json")
    assert os.path.exists(qfile)
    reg = engine.table("crawl_registry")
    assert reg.where(reg.snapshot == SNAPS[1][1]).count() > 0

    # re-run the SAME net (no clear_queue: the restore path) — it must
    # RESUME: everything before the killed job skips, the killed job
    # re-runs against the already-mutated registry, downstream completes
    report = _run_net(runner, *SNAPS[1])
    assert report.success, report.failed
    assert "crawl/load_snapshot" in report.skipped
    killed_job = (
        target if mode == "after" else "crawl/history_dedup"
    )
    assert killed_job not in report.skipped  # the torn job DID re-run
    # queue completed → unlinked; a third run would start fresh
    assert not os.path.exists(qfile)

    # the healed state is IDENTICAL to the uninterrupted run's
    state = _final_state(engine)
    assert state == control_state
    # and the registries carry no double-appends
    assert len(state["band_registry"]) == (
        engine.table("crawl_registry")
        .select("band_id", "band_hash")
        .distinct()
        .count()
    )
    span = engine.bucketed_table("crawl_span_registry", "ahash", 4)
    assert span.count() == span.select("ahash").distinct().count()


# -- a kill inside the writers' stage-and-swap --------------------------------
#
# Both warehouse writers (save_table, save_table_bucketed) overwrite by
# moving the live dir aside to <dir>.__old__ and then renaming the stage
# into place. A kill between the two renames leaves the dir missing; the
# next open must roll the __old__ sibling back, or the follow-up write
# sees "no table" and keeps only its own rows.


def _kill_at_second_swap_rename(monkeypatch):
    import bricolage_spark.engine as E

    real_rename = os.rename

    def rename(src, dst):
        if ".__stage__" in os.path.basename(src):
            raise SimulatedKill(f"killed before {src} -> {dst}")
        real_rename(src, dst)

    monkeypatch.setattr(E.os, "rename", rename)


def test_save_table_killed_mid_swap_keeps_every_row_for_insert_delta(
    spark, tmp_path, monkeypatch
):
    engine = SparkEngine(spark, str(tmp_path / "warehouse"))
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True)
    (home / "config").mkdir()
    (home / "config" / "variable.yml").write_text("test_schema: default\n")
    schema = "id int, d string"
    old_rows = [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")]
    engine.save_table(spark.createDataFrame(old_rows, schema), "acc")
    engine.save_table(
        spark.createDataFrame([(4, "2024-01-03"), (5, "2024-01-04")], schema),
        "src_events",
    )

    _kill_at_second_swap_rename(monkeypatch)
    with pytest.raises(SimulatedKill):
        engine.save_table(spark.createDataFrame([(9, "x")], schema), "acc")
    monkeypatch.undo()

    job = home / "subsys" / "delta.sql.job"
    job.write_text(
        "/*\nclass: insert-delta\ndest-table: acc\n"
        "src-tables: {s: src_events}\ndelete-cond: \"d = '2024-01-03'\"\n*/\n"
        "select * from $s where d = '2024-01-03';\n"
    )
    Context(engine, home=str(home)).load_job(str(job)).execute()
    got = sorted(map(tuple, engine.table("acc").collect()))
    assert got == sorted(old_rows + [(4, "2024-01-03")])
    parent = os.path.dirname(engine.table_dir("acc"))
    assert not [n for n in os.listdir(parent) if n.startswith("acc.__old__")]


def test_save_table_bucketed_killed_mid_swap_keeps_the_registry(
    spark, tmp_path, monkeypatch
):
    """The bucketed writer's follow-up is the span registry's append
    (insert-delta reads plain tables only): with the registry dir gone,
    ``span_registry_prior`` would report "no history" and the append
    would seed a registry holding only the new batch."""
    from pyspark.sql import functions as SF

    from bricolage_spark.streaming.curation import (
        span_registry_prior,
        update_span_registry,
    )

    def hashes(lo, hi):
        return spark.range(lo, hi).select(
            SF.md5(SF.col("id").cast("string")).alias("ahash")
        )

    engine = SparkEngine(spark, str(tmp_path / "warehouse"))
    table = "crash_span_registry"
    try:
        engine.save_table_bucketed(hashes(0, 20), table, "ahash", 4)
        _kill_at_second_swap_rename(monkeypatch)
        with pytest.raises(SimulatedKill):
            engine.save_table_bucketed(hashes(0, 5), table, "ahash", 4)
        monkeypatch.undo()

        prior = span_registry_prior(engine, table, 4)
        assert prior is not None
        update_span_registry(engine, table, hashes(20, 25), n_buckets=4, prior=prior)
        got = {r.ahash for r in engine.bucketed_table(table, "ahash", 4).collect()}
        assert got == {r.ahash for r in hashes(0, 25).collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__stage")
