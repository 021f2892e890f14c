"""Job class end-to-end tests (SURVEY.md §2.1) driven through job files in
a fixture home — the reference's test/home shape."""

from __future__ import annotations

import os

import pytest

from bricolage_spark.context import Context
from bricolage_spark.exception import JobFailure
from bricolage_spark.jobs import Job
from bricolage_spark.runner import JobNetRunner, run_single_job


@pytest.fixture()
def home(tmp_path, engine, spark):
    """Fixture home with a subsys dir, modeled on reference test/home."""
    h = tmp_path / "home"
    (h / "subsys").mkdir(parents=True)
    (h / "config").mkdir()
    (h / "config" / "variable.yml").write_text("test_schema: default\n")
    # a source table in the warehouse
    engine.save_table(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
            "id int, v string, d string",
        ),
        "src_events",
    )
    return h


def write_job(home, name, text):
    p = home / "subsys" / name
    p.write_text(text)
    return str(p)


def ctx_for(engine, home):
    return Context(engine, home=str(home))


def run_job(engine, home, name, text, variables=None):
    path = write_job(home, name, text)
    c = ctx_for(engine, home)
    job = c.load_job(path, cmd_variables=variables or {})
    return job.execute()


# ---------------------------------------------------------------------------


def test_noop_and_failure(engine, home):
    assert run_job(engine, home, "ok.job", "class: noop\n").success
    with pytest.raises(JobFailure):
        run_job(engine, home, "bad.job", "class: noop\nfailure: true\n")


def test_exec_runs_command(engine, home):
    r = run_job(engine, home, "x.job", "class: exec\nargs: [echo, hello]\n")
    assert "hello" in r.message


def test_exec_failure_raises(engine, home):
    with pytest.raises(JobFailure, match="command failed"):
        run_job(engine, home, "x.job", 'class: exec\nargs: [sh, -c, "exit 7"]\n')


def test_wait_file_found_and_timeout(engine, home, tmp_path):
    target = tmp_path / "flag.txt"
    target.write_text("x")
    r = run_job(
        engine, home, "w.job",
        f"class: wait-file\nsrc-file: {target}\nmax-wait-minutes: 0.05\n",
    )
    assert r.success
    with pytest.raises(JobFailure, match="timed out"):
        run_job(
            engine, home, "w2.job",
            f"class: wait-file\nsrc-file: {tmp_path}/nope.txt\n"
            "max-wait-minutes: 0.02\npoll-seconds: 0.2\n",
        )


def test_create_from_ct(engine, home):
    (home / "subsys" / "users.ct").write_text(
        "create table $dest_table\n( id int\n, name varchar(100)\n)\n"
        "distkey (id) sortkey (id);\n"
    )
    r = run_job(
        engine, home, "create.job",
        "class: create\ndest-table: users\ntable-def: users.ct\n",
    )
    assert r.success
    t = engine.table("users")
    assert t.count() == 0
    assert [f.name for f in t.schema.fields] == ["id", "name"]


def test_create_table_schema_is_the_ct_schema(engine, home):
    """The created table has the .ct schema, every field nullable as
    parquet reads report it, including NOT NULL columns."""
    from pyspark.sql import types as T

    (home / "subsys" / "typed.ct").write_text(
        "create table $dest_table\n( id bigint not null\n, amt decimal(12,2)\n"
        ", d date not null\n, ts timestamp\n, ok boolean\n, s varchar(8)\n)\n;\n"
    )
    r = run_job(
        engine, home, "typed.job",
        "class: create\ndest-table: typed\ntable-def: typed.ct\n",
    )
    assert r.success
    assert engine.table("typed").schema == T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amt", T.DecimalType(12, 2)),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("s", T.StringType()),
    ])
    fresh = engine.spark.read.parquet(engine.table_dir("typed"))
    assert engine.table("typed").schema == fresh.schema
    assert fresh.count() == 0


def test_sql_job_embedded(engine, home):
    """.sql.job with embedded YAML header — reference insert.sql.job shape."""
    r = run_job(
        engine, home, "ins.sql.job",
        "/*\nclass: sql\ndest-table: copy1\nsrc-tables: {s: src_events}\n*/\n"
        "create table $dest_table as select * from $s;\n",
    )
    assert r.success
    assert engine.table("copy1").count() == 3


def test_insert_truncate_mode(engine, home):
    engine.save_table(engine.table("src_events").limit(1), "dest1")
    r = run_job(
        engine, home, "ins2.sql.job",
        "/*\nclass: insert\ndest-table: dest1\nsrc-tables: {s: src_events}\ntruncate: true\n*/\n"
        "insert into $dest_table select * from $s where id <= 2;\n",
    )
    assert r.success
    assert engine.table("dest1").count() == 2  # truncated, then 2 inserted


def test_insert_delta_idempotent(engine, home):
    """Reference my-import-delta semantics: re-running the same delta load
    yields the same final state (insert-delta.rb:23-26)."""
    job_text = (
        "/*\nclass: insert-delta\ndest-table: acc\n"
        "src-tables: {s: src_events}\ndelete-cond: \"d = '$data_date'\"\n*/\n"
        "select * from $s where d = '$data_date';\n"
    )
    r1 = run_job(engine, home, "delta.sql.job", job_text, {"data_date": "2024-01-01"})
    assert r1.rows == 2
    # seed more data for another date, then re-run same date twice
    run_job(engine, home, "delta2.sql.job", job_text, {"data_date": "2024-01-02"})
    before = sorted(r.id for r in engine.table("acc").collect())
    r2 = run_job(engine, home, "delta.sql.job", job_text, {"data_date": "2024-01-01"})
    after = sorted(r.id for r in engine.table("acc").collect())
    assert before == after == [1, 2, 3]


def test_insert_delta_keeps_null_cond_rows(engine, home, spark):
    """delete-cond with NULL evaluation must KEEP those rows (SQL DELETE
    3-valued logic) — a NULL dt row survives `d = '2024-01-01'`."""
    engine.save_table(
        spark.createDataFrame([(9, "x", None)], "id int, v string, d string"),
        "accn",
    )
    job_text = (
        "/*\nclass: insert-delta\ndest-table: accn\n"
        "src-tables: {s: src_events}\ndelete-cond: \"d = '2024-01-01'\"\n*/\n"
        "select * from $s where d = '2024-01-01';\n"
    )
    run_job(engine, home, "deltan.sql.job", job_text)
    ids = sorted(r.id for r in engine.table("accn").collect())
    assert ids == [1, 2, 9]  # NULL-d row 9 kept


def test_rebuild_rename_swaps_and_keeps_old(engine, home):
    job_text = (
        "/*\nclass: rebuild-rename\ndest-table: summary\n"
        "src-tables: {s: src_events}\n*/\n"
        "select d, count(*) as n from $s group by d;\n"
    )
    r1 = run_job(engine, home, "rb.sql.job", job_text)
    assert r1.success
    assert engine.table("summary").count() == 2
    # second rebuild: old version preserved as summary_old
    r2 = run_job(engine, home, "rb.sql.job", job_text)
    assert engine.table_exists("summary_old")
    assert engine.table("summary_old").count() == 2
    assert not engine.table_exists("summary_wk")


def test_load_tsv_with_table_def(engine, home, tmp_path):
    (home / "subsys" / "t.ct").write_text(
        "create table x\n( x int\n, y varchar(20)\n, z varchar(20)\n);\n"
    )
    data = tmp_path / "in"
    data.mkdir()
    (data / "f1.tsv").write_text("1\tfoo\tbar\n2\tbaz\tqux\n")
    r = run_job(
        engine, home, "load.job",
        f"class: load\ndest-table: load_test\nsrc-file: {data}/f1.tsv\n"
        "table-def: t.ct\nformat: tsv\ndrop: true\n",
    )
    assert r.rows == 2
    rows = {r.x: r.y for r in engine.table("load_test").collect()}
    assert rows == {1: "foo", 2: "baz"}


def test_load_json_append(engine, home, tmp_path):
    (home / "subsys" / "t.ct").write_text(
        "create table x\n( x int\n, y varchar(20)\n, z varchar(20)\n);\n"
    )
    data = tmp_path / "in"
    data.mkdir()
    (data / "a.json").write_text('{"x": 1, "y": "a", "z": "b"}\n')
    (data / "b.json").write_text('{"x": 2, "y": "c", "z": "d"}\n')
    r = run_job(
        engine, home, "loadj.job",
        f"class: load\ndest-table: jt\nsrc-file: {data}/*.json\n"
        "table-def: t.ct\nformat: json\n",
    )
    assert r.rows == 2
    r = run_job(
        engine, home, "loadj2.job",
        f"class: load\ndest-table: jt\nsrc-file: {data}/a.json\n"
        "table-def: t.ct\nformat: json\n",
    )
    # COPY semantics: rows = rows loaded by THIS job (observed during the
    # write — no post-append full-table re-scan), not the running total.
    assert r.rows == 1
    assert engine.table("jt").count() == 3  # append mode: total grew


def test_unload_roundtrip(engine, home, tmp_path):
    out = tmp_path / "out"
    r = run_job(
        engine, home, "ul.sql.job",
        f"/*\nclass: unload\ndest-file: {out}\nformat: csv\n"
        "src-tables: {s: src_events}\noptions: {header: true}\n*/\n"
        "select id, v from $s where id < 3;\n",
    )
    assert r.success
    import glob

    files = glob.glob(str(out / "*.csv"))
    assert files
    content = "".join(open(f).read() for f in files)
    assert "id,v" in content and "1,a" in content


def test_s3_put_glob_and_remove(engine, home, tmp_path):
    src = tmp_path / "stage"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_text(str(i))
    dest = tmp_path / "bucket" / "prefix"
    r = run_job(
        engine, home, "put.job",
        f"class: s3-put\nsrc-file: {src}/*.txt\ndest-file: {dest}\nremove: true\n",
    )
    assert r.success
    assert sorted(os.listdir(dest)) == ["f0.txt", "f1.txt", "f2.txt"]
    assert os.listdir(src) == []


def test_createview(engine, home):
    r = run_job(
        engine, home, "cv.sql.job",
        "/*\nclass: createview\ndest-table: v1\nsrc-tables: {s: src_events}\n*/\n"
        "select id * 10 as id10 from $s;\n",
    )
    assert r.success
    assert sorted(
        x.id10 for x in engine.spark.sql("select * from v1").collect()
    ) == [10, 20, 30]


def test_dry_run_prints_bound_sql(engine, home):
    path = write_job(
        home, "d.sql.job",
        "/*\nclass: adhoc\nsrc-tables: {s: src_events}\n*/\nselect * from $s where d='$data_date';\n",
    )
    c = ctx_for(engine, home)
    out = run_single_job(c, path, cmd_variables={"data_date": "2024-01-01"}, dry_run=True)
    assert "from src_events" in out and "2024-01-01" in out


def test_jobnet_end_to_end_with_resume(engine, home):
    """Full runner: DAG order, failure stops net, resume skips done jobs."""
    write_job(home, "a.sql.job", "/*\nclass: sql\nsrc-tables: {s: src_events}\ndest-table: t_a\n*/\ncreate table t_a as select * from $s;\n")
    write_job(home, "b.job", "class: noop\nfailure: true\n")
    write_job(home, "c.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n-> b\n-> c\n")
    c = ctx_for(engine, home)
    runner = JobNetRunner(c)
    report = runner.run(str(home / "subsys" / "net.jobnet"))
    assert report.succeeded == ["subsys/a"]
    assert report.failed == ["subsys/b"]

    # fix the failing job, re-run: a is skipped, b+c run
    write_job(home, "b.job", "class: noop\n")
    report2 = runner.run(str(home / "subsys" / "net.jobnet"))
    assert report2.skipped == ["subsys/a"]
    assert report2.succeeded == ["subsys/b", "subsys/c"]
    assert report2.success


def test_jobnet_hooks_fire(engine, home):
    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)
    events = []
    c.hooks.before_job.append(lambda **kw: events.append(("before", kw["ref"])))
    c.hooks.after_job.append(lambda **kw: events.append(("after", kw["status"])))
    JobNetRunner(c).run(str(home / "subsys" / "net.jobnet"))
    assert events == [("before", "subsys/a"), ("after", "succeeded")]

def test_isolate_contains_hard_crash(engine, home):
    """--isolate parity with job.rb:157-196: an isolate-safe job that
    kills its own process (segfault stand-in: os._exit) is recorded as a
    failure; the runner survives and the net stops at the crashed job."""
    from bricolage_spark.jobs import jobclass, JobResult, ISOLATE_SAFE

    @jobclass("crashy", isolate_safe=True)
    def crashy(job):
        os._exit(42)  # hard process death: no exception to catch

    try:
        write_job(home, "a.job", "class: noop\n")
        write_job(home, "b.job", "class: crashy\n")
        write_job(home, "c.job", "class: noop\n")
        (home / "subsys" / "net.jobnet").write_text("a\n-> b\n-> c\n")
        c = ctx_for(engine, home)
        report = JobNetRunner(c, isolate=True).run(str(home / "subsys" / "net.jobnet"))
        assert report.succeeded == ["subsys/a"]
        assert report.failed == ["subsys/b"]
        # queue records the crash message for resume/audit
        q = JobNetRunner(c, isolate=True)._make_queue(
            __import__("bricolage_spark.jobnet", fromlist=["Ref"]).Ref("subsys", "net"),
            clear=False,
        )
        crashed = [t for t in q.tasks if t.job == "subsys/b"]
        assert crashed and "rc=42" in crashed[0].message
    finally:
        from bricolage_spark.jobs import JOB_CLASSES
        JOB_CLASSES.pop("crashy", None)
        ISOLATE_SAFE.discard("crashy")


def test_isolate_passes_normal_results_through(engine, home):
    """Isolated success and JobFailure behave exactly like in-process."""
    write_job(home, "a.job", "class: noop\n")
    write_job(home, "b.job", "class: noop\nfailure: true\n")
    (home / "subsys" / "net.jobnet").write_text("a\n-> b\n")
    c = ctx_for(engine, home)
    report = JobNetRunner(c, isolate=True).run(str(home / "subsys" / "net.jobnet"))
    assert report.succeeded == ["subsys/a"]
    assert report.failed == ["subsys/b"]


def test_unload_load_orc_roundtrip(engine, home, tmp_path):
    """ORC out and back in — the columnar interchange path beyond parquet."""
    out = tmp_path / "orc_out"
    r = run_job(
        engine, home, "ulo.sql.job",
        f"/*\nclass: unload\ndest-file: {out}\nformat: orc\n"
        "src-tables: {s: src_events}\n*/\n"
        "select id, v from $s where id < 3;\n",
    )
    assert r.success
    (home / "subsys" / "o.ct").write_text(
        "create table x\n( id int\n, v varchar(20)\n);\n"
    )
    r2 = run_job(
        engine, home, "lo.job",
        f"class: load\ndest-table: orc_rt\nsrc-file: {out}/*.orc\n"
        "table-def: o.ct\nformat: orc\ndrop: true\n",
    )
    assert r2.rows == 2
    assert {x.id: x.v for x in engine.table("orc_rt").collect()} == {1: "a", 2: "b"}


def test_runner_queue_path_and_db_dsn_selection(engine, home, tmp_path):
    """--queue-path pins the file queue; --db-name implies the DB queue
    (jobnetrunner.rb:289-294 parity)."""
    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)

    qfile = tmp_path / "pinned.queue.json"
    r = JobNetRunner(c, queue_path=str(qfile), queue_type="db")
    assert r.queue_type == "file"  # explicit path overrides type
    report = r.run(str(home / "subsys" / "net.jobnet"))
    assert report.success

    dsn = str(tmp_path / "state.sqlite")
    r2 = JobNetRunner(c, db_dsn=dsn)
    assert r2.queue_type == "db"
    report2 = r2.run(str(home / "subsys" / "net.jobnet"))
    assert report2.success
    import os
    assert os.path.exists(dsn)  # DB created at the explicit DSN


def test_example_curation_home_runs_end_to_end(engine, tmp_path):
    """The shipped examples/curation_home jobnet (load → quality filter →
    classifier filter → dedup → span scrub → history near-dedup + registry compaction
    → semantic decon (concurrent embeddings/bench branch) → domain caps
    → two parallel report branches → stats) runs green against the
    sf0.001 testdata under --parallel 2."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ex_home = os.path.join(repo_root, "examples", "curation_home")
    c = Context(engine, home=ex_home)
    runner = JobNetRunner(c, queue_dir=str(tmp_path / "queue"))
    report = runner.run(
        os.path.join(ex_home, "curation", "curation.jobnet"), parallel=2
    )
    assert report.success, (report.failed, report.succeeded)
    # the independent report branches both materialized
    assert engine.table("length_histogram").count() > 0
    srcs = engine.table("source_stats")
    assert srcs.count() == engine.table("capped_documents").select(
        "source"
    ).distinct().count()
    raw = engine.table("raw_documents").count()
    clean = engine.table("clean_documents").count()
    scored = engine.table("scored_documents").count()
    ded = engine.table("dedup_documents").count()
    scrubbed = engine.table("scrubbed_documents").count()
    fresh = engine.table("fresh_documents").count()
    span_fresh = engine.table("span_fresh_documents").count()
    sem_fresh = engine.table("sem_fresh_documents").count()
    decon = engine.table("decon_documents").count()
    capped = engine.table("capped_documents").count()
    assert raw == 500
    assert 0 < clean <= raw          # the repetition filter drops some docs
    assert 0 < scored <= clean       # classifier keeps a subset
    assert 0 < ded <= scored         # dedup never grows the corpus
    assert scrubbed == ded           # span-scrub rewrites text, drops no doc
    # the scrub refreshed n_chars to the published (scrubbed) lengths
    sc = engine.table("scrubbed_documents")
    assert sc.filter("n_chars <> length(text)").count() == 0
    assert 0 < fresh <= scrubbed     # history probe never grows the corpus
    assert fresh == scrubbed         # first snapshot: empty registry keeps all
    assert span_fresh == fresh       # span stage rewrites text, drops no doc
    # first snapshot: empty span registry -> no doc's text was touched,
    # and the bucketed registry got seeded with the published anchors,
    # labeled with the snapshot variable
    assert engine.table("span_fresh_documents").filter(
        "n_chars <> length(text)"
    ).count() == 0
    span_reg = engine.bucketed_table("span_registry", "ahash", 8)
    assert span_reg.count() > 0
    assert {
        r.snapshot for r in span_reg.select("snapshot").distinct().collect()
    } == {"snapshot0"}
    # compaction (bucketed) left one row per anchor digest
    assert span_reg.count() == span_reg.select("ahash").distinct().count()
    assert sem_fresh == span_fresh   # first snapshot: empty SRP registry too
    # the SRP band registry was seeded, labeled with the snapshot
    srp_reg = engine.table("srp_registry")
    assert srp_reg.count() > 0
    assert {r.snapshot for r in srp_reg.select("snapshot").distinct().collect()} == {
        "snapshot0",
    }
    assert 0 < decon <= sem_fresh    # semantic decon never grows the corpus
    # benchmark members score 1.0 against themselves -> every bench-id doc
    # that reached the decon input is dropped by the decon stage
    assert engine.table("decon_documents").filter("doc_id < 100").count() == 0
    assert engine.table("sem_fresh_documents").filter("doc_id < 100").count() > 0
    # the compacted band registry holds the surviving docs' bands, one
    # row per key, labeled with the snapshot variable
    reg = engine.table("band_registry")
    assert reg.count() == reg.select("band_id", "band_hash").distinct().count()
    assert reg.select("snapshot").distinct().collect()[0][0] == "snapshot0"
    assert 0 < capped <= decon       # domain caps never grow the corpus
    from pyspark.sql import functions as SF
    per_source = engine.table("capped_documents").groupBy("source").count()
    assert per_source.agg(SF.max("count")).first()[0] <= 40
    stats = {
        (r.lang, r.source): r.n_docs
        for r in engine.table("corpus_stats").collect()
    }
    assert sum(stats.values()) == capped
    # DSIR selection branch: the published ratio table is bucket-keyed,
    # and the selected pool is the keep-fraction (0.5) head of capped
    selected = engine.table("selected_documents").count()
    assert selected == max(1, capped // 2)
    ratio = engine.table("dsir_ratio")
    assert set(ratio.columns) == {"bucket", "log_ratio"}
    assert ratio.count() == ratio.select("bucket").distinct().count()
    # every selected doc came from the capped pool
    assert (
        engine.table("selected_documents")
        .join(engine.table("capped_documents"), "doc_id", "left_anti")
        .count()
        == 0
    )
    # split assignment (q106 stage): every selected doc got a split,
    # byte-identical texts co-assign, and the publish gate saw zero
    # cross-split near-dup pairs (max-leaking: 0 held, or the net would
    # have failed at leakage_audit)
    split_docs = engine.table("split_documents")
    assert split_docs.count() == selected
    assert split_docs.filter("split is null").count() == 0
    assert (
        split_docs.groupBy(
            SF.md5(SF.trim(SF.regexp_replace(SF.lower("text"), r"\s+", " ")))
        )
        .agg(SF.countDistinct("split").alias("k"))
        .filter("k > 1")
        .count()
        == 0
    )
    report = engine.table("leakage_report")
    assert report.count() <= 9
    assert report.filter("split_a <> split_b").agg(
        SF.coalesce(SF.sum("n_leaking"), SF.lit(0))
    ).first()[0] == 0
    # data-card branches: the epoch plan covers every selected source
    # within the budget; the calibration sheet partitions the pre-filter
    # corpus across score buckets
    plan = engine.table("epoch_plan")
    assert plan.count() == engine.table("selected_documents").select(
        "source"
    ).distinct().count()
    assert plan.agg(SF.sum("target_tokens")).first()[0] <= 500000
    cal = engine.table("calibration_report")
    assert cal.agg(SF.sum("n_docs")).first()[0] == clean


def test_load_maxerror_quarantines_bad_rows(engine, home, tmp_path):
    """MAXERROR parity: malformed records within the limit land in
    {dest}__errors and the good rows load; over the limit the job fails."""
    (home / "subsys" / "t.ct").write_text(
        "create table x\n( x int\n, y varchar(20)\n);\n"
    )
    data = tmp_path / "in"
    data.mkdir()
    # row 2 has a non-integer x and an extra column -> malformed
    (data / "f.tsv").write_text("1\tfoo\nnotanint\tbar\textra\n3\tbaz\n")
    r = run_job(
        engine, home, "load.job",
        f"class: load\ndest-table: mx_ok\nsrc-file: {data}/f.tsv\n"
        "table-def: t.ct\nformat: tsv\ndrop: true\n"
        "options: {maxerror: 2}\n",
    )
    assert r.rows == 2 and "quarantined" in r.message
    assert {row.x for row in engine.table("mx_ok").collect()} == {1, 3}
    errs = engine.table("mx_ok__errors").collect()
    assert len(errs) == 1 and "notanint" in errs[0].raw_record

    # maxerror 0 (default) keeps FAILFAST: the load aborts
    from bricolage_spark.exception import JobFailure
    import pytest as _pt
    with _pt.raises(Exception):
        run_job(
            engine, home, "load2.job",
            f"class: load\ndest-table: mx_ff\nsrc-file: {data}/f.tsv\n"
            "table-def: t.ct\nformat: tsv\ndrop: true\n",
        )

    # AT the limit: Redshift fails when errors >= maxerror, so exactly
    # maxerror malformed records abort and the quarantine is NOT written
    (data / "g.tsv").write_text("a\tx\nb\ty\nc\tz\n1\tok\n")
    with _pt.raises(JobFailure, match="reach maxerror"):
        run_job(
            engine, home, "load3.job",
            f"class: load\ndest-table: mx_over\nsrc-file: {data}/g.tsv\n"
            "table-def: t.ct\nformat: tsv\ndrop: true\n"
            "options: {maxerror: 3}\n",
        )
    assert not engine.table_exists("mx_over__errors")


def test_load_json_with_jsonpaths_file(engine, home, tmp_path):
    """Redshift jsonpaths parity: positional $.path extraction into the
    declared columns, including nested and bracket-quoted keys."""
    (home / "subsys" / "jp.ct").write_text(
        "create table x\n( uid int\n, ev varchar(20)\n, amt int\n);\n"
    )
    (home / "subsys" / "paths.json").write_text(
        '{"jsonpaths": ["$.user.id", "$[\'event type\']", "$.amount"]}'
    )
    data = tmp_path / "in"
    data.mkdir()
    (data / "e.json").write_text(
        '{"user": {"id": 7}, "event type": "click", "amount": 3}\n'
        '{"user": {"id": 8}, "event type": "view", "amount": 5}\n'
    )
    r = run_job(
        engine, home, "loadjp.job",
        f"class: load\ndest-table: jp_test\nsrc-file: {data}/e.json\n"
        "table-def: jp.ct\nformat: json\njsonpath: paths.json\ndrop: true\n",
    )
    assert r.rows == 2
    rows = {row.uid: (row.ev, row.amt) for row in engine.table("jp_test").collect()}
    assert rows == {7: ("click", 3), 8: ("view", 5)}


def test_logfilepath_template_variables():
    """logfilepath.rb parity: %{std} layout, aliases, strftime parts."""
    from datetime import datetime

    from bricolage_spark.exception import ParameterError as PE
    from bricolage_spark.loglocator import LogFilePath

    js = datetime(2026, 8, 14, 9, 30, 5, 123000)
    ns = datetime(2026, 8, 13, 22, 0, 1, 999000)
    kw = dict(
        subsystem="subsys", job="job1", jobnet_id="subsys/net1",
        job_start_time=js, jobnet_start_time=ns,
    )
    std = LogFilePath("/logs/%{std}.log").format(**kw)
    assert std == (
        "/logs/20260813/subsys::net1/20260813_220001999/subsys-job1.log"
    )
    assert (
        LogFilePath("%{net}|%{flow_id}|%{jobnet_id}").format(**kw)
        == "subsys::net1|subsys::net1|subsys::net1"
    )
    assert (
        LogFilePath("%{job_start_date}/%{job_start_time}/%{job_id}").format(**kw)
        == "20260814/20260814_093005123/job1"
    )
    with _pt_raises(PE, match="bad log path variable"):
        LogFilePath("%{nope}").format(**kw)


def _pt_raises(*a, **kw):
    import pytest as _pt

    return _pt.raises(*a, **kw)


def test_jobnet_writes_per_job_log_files(engine, home, tmp_path):
    """loglocator parity: every job of a net gets its own log file at the
    templated path, capturing the job's stdout/stderr (fd-level, so
    forked --isolate children are captured too)."""
    from bricolage_spark.jobs import JobResult, jobclass
    from bricolage_spark.loglocator import LogFilePath
    from bricolage_spark.runner import JobNetRunner

    @jobclass("chatty", isolate_safe=True)
    def chatty(job):
        # os.write to fd 1, not print: pytest's capture replaces
        # sys.stdout with an in-memory buffer, while real jobs (and the
        # forked --isolate children) write through the process fds the
        # locator redirects
        os.write(1, f"hello from {job.param('who')}\n".encode())
        return JobResult(message="ok")

    write_job(home, "a.job", "class: chatty\nwho: aaa\n")
    write_job(home, "b.job", "class: chatty\nwho: bbb\n")
    (home / "subsys" / "net.jobnet").write_text("a\n-> b\n")
    c = ctx_for(engine, home)
    tpl = LogFilePath(str(tmp_path / "logs" / "%{jobnet}" / "%{subsystem}-%{job}.log"))
    for isolate in (False, True):
        report = JobNetRunner(c, isolate=isolate, log_path=tpl).run(
            str(home / "subsys" / "net.jobnet"), clear_queue=True
        )
        assert report.success
        for name, who in (("a", "aaa"), ("b", "bbb")):
            p = tmp_path / "logs" / "subsys::net" / f"subsys-{name}.log"
            assert p.exists(), (isolate, name)
            assert f"hello from {who}" in p.read_text(), (isolate, name)
            p.unlink()


def test_log_locator_upload_ships_and_prunes(engine, home, tmp_path):
    """--s3-log slot: on successful upload the local file is removed and
    empty parent dirs pruned (loglocator.rb:62-89)."""
    from bricolage_spark.loglocator import LogFilePath
    from bricolage_spark.runner import JobNetRunner

    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)
    shipped = []
    tpl = LogFilePath(str(tmp_path / "logs" / "deep" / "%{job}.log"))
    report = JobNetRunner(c, log_path=tpl, log_upload=shipped.append).run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True
    )
    assert report.success
    assert shipped == [str(tmp_path / "logs" / "deep" / "a.log")]
    assert not (tmp_path / "logs").exists()  # file removed, parents pruned


def test_bad_log_template_fails_upfront(engine, home, tmp_path):
    """An invalid %{var} in the log template must raise BEFORE any task
    runs or transitions — not crash mid-queue."""
    from bricolage_spark.exception import ParameterError
    from bricolage_spark.loglocator import LogFilePath
    from bricolage_spark.runner import JobNetRunner

    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)
    tpl = LogFilePath(str(tmp_path / "%{date}.log"))  # %{date} is not a var
    runner = JobNetRunner(c, log_path=tpl)
    import pytest as _pt
    with _pt.raises(ParameterError, match="bad log path variable"):
        runner.run(str(home / "subsys" / "net.jobnet"), clear_queue=True)
    # nothing ran, and the queue holds no half-consumed state
    assert not os.path.exists(runner.queue_path(__import__(
        "bricolage_spark.jobnet", fromlist=["Ref"]).Ref("subsys", "net", True)))


def test_unwritable_log_dir_records_job_failure(engine, home, tmp_path):
    """A per-job log-file I/O error is a recorded job failure, not a
    runner crash (fds restored, queue consistent)."""
    from bricolage_spark.loglocator import LogFilePath
    from bricolage_spark.runner import JobNetRunner

    blocker = tmp_path / "blocked"
    blocker.write_text("a file where the log DIR should be")
    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)
    tpl = LogFilePath(str(blocker / "%{job}.log"))  # parent is a file
    report = JobNetRunner(c, log_path=tpl).run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True
    )
    assert report.failed == ["subsys/a"] and not report.succeeded


def test_single_job_cli_log_dir_captures_output(engine, home, tmp_path, spark):
    """The single-job binary honors -L like the jobnet runner
    (application.rb common options): output lands in the %{std}.log path."""
    from bricolage_spark.cli import main

    write_job(home, "solo.job", "class: chatty2\nwho: solo\n")
    from bricolage_spark.jobs import JobResult, jobclass

    @jobclass("chatty2", isolate_safe=True)
    def chatty2(job):
        os.write(1, f"hi from {job.param('who')}\n".encode())
        return JobResult(message="ok")

    logs = tmp_path / "joblogs"
    rc = main(
        [
            "--home", str(home),
            "--warehouse", str(tmp_path / "wh"),
            "job", "subsys/solo.job",
            "-L", str(logs),
        ]
    )
    assert rc == 0
    found = list(logs.rglob("*.log"))
    assert len(found) == 1 and found[0].name == "subsys-solo.log"
    assert "hi from solo" in found[0].read_text()


# ---------------------------------------------------------------------------
# parallel jobnet execution (Spark-first extension)
# ---------------------------------------------------------------------------


def test_parallel_jobnet_runs_independent_branches_concurrently(
    engine, home, tmp_path
):
    """Two independent sleep jobs under --parallel 2 must OVERLAP in
    time (asserted from hook timestamps — robust on loaded hosts, unlike
    a total-wall bound); fin waits for both."""
    import time as _time

    for n in ("s1", "s2"):
        write_job(home, f"{n}.job", 'class: exec\nargs: [sleep, "1.0"]\n')
    write_job(home, "fin.job", "class: noop\n")
    # s1 and s2 are independent; fin depends on both
    (home / "subsys" / "net.jobnet").write_text("s1 -> fin\ns2 -> fin\n")
    c = ctx_for(engine, home)
    spans: dict[str, list[float]] = {}
    c.hooks.before_job.append(
        lambda **kw: spans.setdefault(kw["ref"], [0, 0]).__setitem__(
            0, _time.monotonic()
        )
    )
    c.hooks.after_job.append(
        lambda **kw: spans[kw["ref"]].__setitem__(1, _time.monotonic())
    )
    report = JobNetRunner(c).run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True, parallel=2
    )
    assert report.success
    assert set(report.succeeded) == {"subsys/s1", "subsys/s2", "subsys/fin"}
    (a0, a1), (b0, b1) = spans["subsys/s1"], spans["subsys/s2"]
    assert max(a0, b0) < min(a1, b1), f"branches did not overlap: {spans}"
    # fin started only after both finished
    assert spans["subsys/fin"][0] >= max(a1, b1)


def test_parallel_respects_dependencies_and_failure_stops_launches(
    engine, home, tmp_path
):
    """Diamond a -> (bad, slow) -> d: d must never run after bad fails;
    a re-run after fixing resumes and completes."""
    write_job(home, "a.job", "class: noop\n")
    write_job(home, "bad.job", "class: noop\nfailure: true\n")
    write_job(home, "slow.job", 'class: exec\nargs: [sleep, "0.8"]\n')
    write_job(home, "d.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text(
        "a -> bad\na -> slow\nbad -> d\nslow -> d\n"
    )
    c = ctx_for(engine, home)
    runner = JobNetRunner(c)
    report = runner.run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True, parallel=3
    )
    assert report.failed == ["subsys/bad"]
    assert "subsys/d" not in report.succeeded
    # in-flight slow branch was allowed to finish
    assert "subsys/slow" in report.succeeded
    # fix and resume: a/slow skipped, bad+d run
    write_job(home, "bad.job", "class: noop\n")
    report2 = runner.run(str(home / "subsys" / "net.jobnet"), parallel=3)
    assert report2.success
    assert set(report2.skipped) >= {"subsys/a", "subsys/slow"}
    assert {"subsys/bad", "subsys/d"} <= set(report2.succeeded)


def test_parallel_rejects_unsupported_combos(engine, home, tmp_path):
    from bricolage_spark.exception import ApplicationError

    write_job(home, "a.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a\n")
    c = ctx_for(engine, home)
    import pytest as _pt

    net = str(home / "subsys" / "net.jobnet")
    with _pt.raises(ApplicationError, match="isolate"):
        JobNetRunner(c, isolate=True).run(net, clear_queue=True, parallel=2)
    with _pt.raises(ApplicationError, match="file or memory queue"):
        JobNetRunner(c, db_dsn=str(tmp_path / "q.db")).run(
            net, clear_queue=True, parallel=2
        )


def test_parallel_per_job_log_capture_is_disjoint(engine, home, tmp_path):
    """--parallel + per-job logs: two jobs GUARANTEED concurrent (barrier
    rendezvous inside the jobs) each get their own log file containing
    only their own output — the per-thread stream router does not
    interleave, and the runner's own sys.stdout is restored after."""
    import sys as _sys
    import threading

    from bricolage_spark.jobs import JobResult, jobclass
    from bricolage_spark.loglocator import LogFilePath
    from bricolage_spark.runner import JobNetRunner

    barrier = threading.Barrier(2, timeout=30)
    orig_out = _sys.stdout

    @jobclass("sync_chatty")
    def sync_chatty(job):
        who = job.param("who")
        barrier.wait()  # both jobs are inside their capture context NOW
        for i in range(50):
            print(f"line {i} from {who}")
        barrier.wait()  # neither exits capture before the other finishes
        return JobResult(message="ok")

    write_job(home, "a.job", "class: sync_chatty\nwho: aaa\n")
    write_job(home, "b.job", "class: sync_chatty\nwho: bbb\n")
    # no edge between a and b: independent branches -> run concurrently
    (home / "subsys" / "net.jobnet").write_text("a\nb\n")
    c = ctx_for(engine, home)
    tpl = LogFilePath(str(tmp_path / "plogs" / "%{subsystem}-%{job}.log"))
    report = JobNetRunner(c, log_path=tpl).run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True, parallel=2
    )
    assert report.success
    for name, mine, other in (("a", "aaa", "bbb"), ("b", "bbb", "aaa")):
        text = (tmp_path / "plogs" / f"subsys-{name}.log").read_text()
        assert text.count(f"from {mine}") == 50, name
        assert f"from {other}" not in text, name
    assert _sys.stdout is orig_out  # router uninstalled after the run


def test_real_job_dependencies_collapses_pseudo_nodes(tmp_path):
    """Subnet sandwiches and dummies vanish; real-to-real deps survive."""
    from bricolage_spark.jobnet import RootJobNet

    home = str(tmp_path)
    os.makedirs(os.path.join(home, "subsys"), exist_ok=True)
    def w(name, text):
        with open(os.path.join(home, "subsys", name), "w") as f:
            f.write(text)
    w("net1.jobnet", "job1\n-> *net2\n-> job4\n")
    w("net2.jobnet", "job2\n-> job3\n")
    for j in ("job1", "job2", "job3", "job4"):
        w(f"{j}.job", "class: noop\n")
    root = RootJobNet.load(home, os.path.join(home, "subsys", "net1.jobnet"))
    deps = {
        str(k): {str(v) for v in vs}
        for k, vs in root.real_job_dependencies().items()
    }
    assert deps == {
        "subsys/job1": set(),
        "subsys/job2": {"subsys/job1"},
        "subsys/job3": {"subsys/job2"},
        "subsys/job4": {"subsys/job3"},
    }


def test_parallel_resume_handles_jobnet_drift(engine, home, tmp_path):
    """Queue saved, then the jobnet gains one job and loses another:
    parallel resume runs the added job (topological slot), still runs
    the stale queued task (loaded by path), and completes cleanly."""
    write_job(home, "a.job", "class: noop\n")
    write_job(home, "bad.job", "class: noop\nfailure: true\n")
    (home / "subsys" / "net.jobnet").write_text("a -> bad\n")
    c = ctx_for(engine, home)
    runner = JobNetRunner(c)
    r1 = runner.run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True, parallel=2
    )
    assert r1.failed == ["subsys/bad"]
    # drift: fix bad, ADD new job c after bad, REMOVE a from the net
    # (its succeeded task stays in the queue)
    write_job(home, "bad.job", "class: noop\n")
    write_job(home, "cnew.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("bad -> cnew\n")
    r2 = runner.run(str(home / "subsys" / "net.jobnet"), parallel=2)
    assert r2.success
    assert {"subsys/bad", "subsys/cnew"} <= set(r2.succeeded)
    assert "subsys/a" in r2.skipped  # stale succeeded task stays done


def test_db_queue_resume_with_added_job(engine, home, tmp_path):
    """The jobnet-drift merge also persists through the DB queue: a job
    added after a failed run is INSERTed on save and runs on resume."""
    write_job(home, "a.job", "class: noop\n")
    write_job(home, "bad.job", "class: noop\nfailure: true\n")
    (home / "subsys" / "net.jobnet").write_text("a -> bad\n")
    c = ctx_for(engine, home)
    dsn = str(tmp_path / "drift.db")
    r1 = JobNetRunner(c, db_dsn=dsn).run(
        str(home / "subsys" / "net.jobnet"), clear_queue=True
    )
    assert r1.failed == ["subsys/bad"]
    write_job(home, "bad.job", "class: noop\n")
    write_job(home, "cnew.job", "class: noop\n")
    (home / "subsys" / "net.jobnet").write_text("a -> bad\nbad -> cnew\n")
    r2 = JobNetRunner(c, db_dsn=dsn).run(str(home / "subsys" / "net.jobnet"))
    assert r2.success
    assert {"subsys/bad", "subsys/cnew"} <= set(r2.succeeded)
    assert "subsys/a" in r2.skipped


def test_registry_compact_dedups_and_preserves_probe_verdicts(engine, home, spark):
    """A band registry appended over three snapshots is compacted to one
    row per (band_id, band_hash) with first-seen snapshot retained, fewer
    files — and a q82-style probe returns identical flags before/after."""
    import os as _os

    rows = [
        # snapshot 1 ingests bands A,B; snapshot 2 re-sees A and adds C;
        # snapshot 3 re-sees everything (worst-case duplication)
        (1, "A", 100), (1, "B", 100),
        (1, "A", 200), (2, "C", 200),
        (1, "A", 300), (1, "B", 300), (2, "C", 300),
    ]
    for snap in (100, 200, 300):
        batch = [(b, h, s) for (b, h, s) in rows if s == snap]
        engine.save_table(
            spark.createDataFrame(batch, "band_id int, band_hash string, snapshot int"),
            "band_registry",
            mode="append" if snap > 100 else "overwrite",
        )

    from bricolage_spark.operators.dedup import incremental_neardup_flags

    probe = spark.createDataFrame(
        [(10, 1, "A"), (10, 1, "B"), (11, 2, "ZZZ")],
        "doc_id long, band_id int, band_hash string",
    )

    def flags():
        reg = engine.table("band_registry").select("band_id", "band_hash")
        return {
            r.doc_id: (r.n_hit_bands, r.hist_neardup)
            for r in incremental_neardup_flags(probe, reg, "doc_id").collect()
        }

    before = flags()
    files_before = sum(
        1 for _r, _d, fs in _os.walk(engine.table_dir("band_registry"))
        for f in fs if f.endswith(".parquet")
    )
    r = run_job(
        engine, home, "compact.job",
        "class: registry-compact\ndest-table: band_registry\n"
        "key-columns: band_id, band_hash\nsnapshot-column: snapshot\n"
        "target-partitions: 1\n",
    )
    assert r.success and r.rows == 3  # A, B, C — one row per key
    files_after = sum(
        1 for _r, _d, fs in _os.walk(engine.table_dir("band_registry"))
        for f in fs if f.endswith(".parquet")
    )
    assert files_after < files_before
    compacted = {
        (row.band_id, row.band_hash): row.snapshot
        for row in engine.table("band_registry").collect()
    }
    # first-seen snapshot survives compaction
    assert compacted == {(1, "A"): 100, (1, "B"): 100, (2, "C"): 200}
    assert flags() == before  # probe verdicts unchanged


def test_registry_compact_ages_out_old_snapshots(engine, home, spark):
    """keep-snapshots N retains only the newest N distinct snapshots
    before deduping — the TTL story for a rolling-window registry."""
    engine.save_table(
        spark.createDataFrame(
            [("h1", 1), ("h2", 2), ("h2", 3), ("h3", 3)],
            "content_hash string, snapshot int",
        ),
        "digest_registry",
    )
    r = run_job(
        engine, home, "ttl.job",
        "class: registry-compact\ndest-table: digest_registry\n"
        "key-columns: content_hash\nsnapshot-column: snapshot\n"
        "keep-snapshots: 2\n",
    )
    assert r.success
    out = {
        (row.content_hash, row.snapshot)
        for row in engine.table("digest_registry").collect()
    }
    # snapshot 1 aged out entirely; h2 keeps its earliest REMAINING snapshot
    assert out == {("h2", 2), ("h3", 3)}
    assert "1 snapshot(s) aged out" in r.message


def test_registry_compact_rejects_unknown_column(engine, home, spark):
    from bricolage_spark.exception import ParameterError

    engine.save_table(
        spark.createDataFrame([("x",)], "content_hash string"), "reg_bad"
    )
    with pytest.raises(ParameterError, match="no such column"):
        run_job(
            engine, home, "bad.job",
            "class: registry-compact\ndest-table: reg_bad\nkey-columns: nope\n",
        )


def test_classifier_filter_job_honors_threshold(engine, home, spark):
    """classifier-filter: keeps exactly the docs hashed_ngram_score keeps
    at the configured threshold; NULL text never reaches the output."""
    from bricolage_spark.operators.textual import hashed_ngram_score

    engine.save_table(
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again"),
                (2, "completely different words about sailing ships and harbors"),
                (3, None),
                (4, "some additional plain text for scoring variety here now"),
            ],
            "doc_id long, text string",
        ),
        "cls_src",
    )
    r = run_job(
        engine, home, "cf.job",
        "class: classifier-filter\ndest-table: cls_out\nsrc-table: cls_src\n"
        "threshold: 0.5\n",
    )
    assert r.success
    got = {row.doc_id for row in engine.table("cls_out").collect()}
    want = {
        row.doc_id
        for row in hashed_ngram_score(
            engine.table("cls_src"), "doc_id", "text", threshold=0.5
        ).collect()
        if row.keep
    }
    assert got == want and 3 not in got


def test_dsir_select_job_modes(engine, home, spark):
    """dsir-select: keep-fraction takes the exact top-k head by weight,
    the published ratio table is reusable (reuse-ratio skips the refit
    and yields identical selection), min-weight thresholds instead when
    no fraction is given, and a bad fraction is a ParameterError."""
    from bricolage_spark.exception import ParameterError

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps under the old tree"),
        (3, "buy cheap pills now buy cheap pills now"),
        (4, "completely different words about sailing ships"),
        (5, "fox and dog stories the quick collection"),
        (6, "unrelated industrial shipping manifest entries"),
    ]
    engine.save_table(
        spark.createDataFrame(rows, "doc_id long, text string"), "ds_pool"
    )
    engine.save_table(
        spark.createDataFrame(rows[:2], "doc_id long, text string"), "ds_target"
    )
    spec = (
        "class: dsir-select\ndest-table: ds_out\nsrc-table: ds_pool\n"
        "target-table: ds_target\nratio-table: ds_ratio\n"
        "keep-fraction: 0.5\n"
    )
    r = run_job(engine, home, "ds.job", spec)
    assert r.success and r.rows == 3
    first = {row.doc_id for row in engine.table("ds_out").collect()}
    assert len(first) == 3
    # target-like docs (shared fox/quick vocabulary) win the head
    assert {1, 2} <= first

    # reuse the published ratio table: same selection, no refit
    r2 = run_job(
        engine, home, "ds2.job", spec.replace("ds_out", "ds_out2")
        + "reuse-ratio: true\n",
    )
    assert r2.success and "reused" in r2.message
    assert {row.doc_id for row in engine.table("ds_out2").collect()} == first

    # min-weight mode: a floor low enough keeps the whole pool
    r3 = run_job(
        engine, home, "ds3.job",
        "class: dsir-select\ndest-table: ds_out3\nsrc-table: ds_pool\n"
        "target-table: ds_target\nmin-weight: -1000000\n",
    )
    assert r3.success and r3.rows == len(rows)

    with pytest.raises(ParameterError):
        run_job(
            engine, home, "ds4.job",
            "class: dsir-select\ndest-table: ds_out4\nsrc-table: ds_pool\n"
            "target-table: ds_target\nkeep-fraction: 1.5\n",
        )


def test_semantic_neardup_history_job_two_snapshots(engine, home, spark):
    """semantic-neardup-history: a later snapshot's doc whose embedding
    duplicates ingested history is dropped (all SRP bands hit), an
    embedding-distinct doc survives, docs without an embedding pass
    through, and a labeled re-run is idempotent."""
    base = [0.3, -1.2, 0.7, 0.1, -0.5, 2.0, -0.9, 0.4] * 8  # 64 dims
    neg = [-x for x in base]

    def run_snap(snap, docs, embs):
        engine.save_table(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "sem_batch",
        )
        engine.save_table(
            spark.createDataFrame(embs, "vec_id long, embedding array<double>"),
            "sem_embs",
        )
        return run_job(
            engine, home, f"snh_{snap}.job",
            "class: semantic-neardup-history\ndest-table: sem_fresh\n"
            "src-table: sem_batch\nembeddings-table: sem_embs\n"
            f"registry-table: sem_reg\nsnapshot: {snap}\n",
        )

    r1 = run_snap("s1", [(1, "doc one"), (2, "doc two")],
                  [(1, base), (2, [1.0] * 64)])
    assert r1.success and r1.rows == 2

    # snapshot 2: doc 10 re-embeds base (dup of history), doc 11 is the
    # negation (every bit flips vs doc 1 — but may collide with doc 2's
    # bands; assert against the actual registry verdict), doc 12 has no
    # embedding
    r2 = run_snap("s2", [(10, "later one"), (11, "later two"), (12, "no vec")],
                  [(10, base), (11, neg)])
    assert r2.success
    kept = {r.doc_id for r in engine.table("sem_fresh").collect()}
    assert 10 not in kept          # identical embedding: all bands hit
    assert 12 in kept              # unembedded: passes through
    # registry holds labeled band rows for both snapshots
    reg = engine.table("sem_reg")
    assert {r.snapshot for r in reg.select("snapshot").distinct().collect()} == {
        "s1", "s2",
    }
    n_reg = reg.count()

    # labeled replay: same verdicts, registry not double-appended
    r3 = run_snap("s2", [(10, "later one"), (11, "later two"), (12, "no vec")],
                  [(10, base), (11, neg)])
    assert r3.success and r3.rows == r2.rows
    assert engine.table("sem_reg").count() == n_reg


def test_pagerank_job_ranks_edge_table(engine, home, spark):
    """pagerank job class: publishes (id, rank) summing to 1, hub
    outranks leaf, and bad params raise upfront."""
    from bricolage_spark.exception import ParameterError

    engine.save_table(
        spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)], "src bigint, dst bigint"
        ),
        "links",
    )
    r = run_job(
        engine, home, "pr.job",
        "class: pagerank\ndest-table: host_rank\nedges-table: links\n"
        "iterations: 4\n",
    )
    assert r.success and r.rows == 4
    got = {row.id: row.rank for row in engine.table("host_rank").collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[3]  # three in-links vs none

    with pytest.raises(ParameterError):
        run_job(
            engine, home, "pr2.job",
            "class: pagerank\ndest-table: x\nedges-table: links\n"
            "damping: 1.5\n",
        )
    with pytest.raises(ParameterError):
        run_job(
            engine, home, "pr3.job",
            "class: pagerank\ndest-table: x\nedges-table: links\n"
            "src-column: nope\n",
        )


def test_eval_split_job_assigns_and_reports_nulls(engine, home, spark):
    """eval-split job class: content-keyed deterministic splits —
    byte-identical texts co-assign, NULL-text rows survive with split
    NULL and are counted in the message, percentages validate."""
    from bricolage_spark.exception import ParameterError

    rows = [(i, f"document body number {i % 40}") for i in range(100)]
    rows += [(100, None), (101, None)]
    engine.save_table(
        spark.createDataFrame(rows, "doc_id long, text string"), "pool"
    )
    r = run_job(
        engine, home, "es.job",
        "class: eval-split\ndest-table: pool_split\nsrc-table: pool\n"
        "val-pct: 10\ntest-pct: 10\n",
    )
    assert r.success and r.rows == 102
    assert "2 NULL-text rows" in r.message
    out = engine.table("pool_split")
    assert out.filter("split is null").count() == 2
    assert out.filter("split is null and text is not null").count() == 0
    # identical text (i % 40 collides) => identical split, always
    from pyspark.sql import functions as SF

    assert (
        out.where("text is not null")
        .groupBy("text")
        .agg(SF.countDistinct("split").alias("k"))
        .filter("k > 1")
        .count()
        == 0
    )
    # determinism: re-running over the published table (which already
    # has split columns) overwrites them identically, never duplicates
    r2 = run_job(
        engine, home, "es2.job",
        "class: eval-split\ndest-table: pool_split2\nsrc-table: pool_split\n"
        "val-pct: 10\ntest-pct: 10\n",
    )
    assert r2.success
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in engine.table("pool_split2").collect()}
    assert a == b
    assert engine.table("pool_split2").columns.count("split") == 1

    with pytest.raises(ParameterError):
        run_job(
            engine, home, "es3.job",
            "class: eval-split\ndest-table: x\nsrc-table: pool\n"
            "val-pct: 60\ntest-pct: 50\n",
        )
    with pytest.raises(ParameterError):
        run_job(
            engine, home, "es4.job",
            "class: eval-split\ndest-table: x\nsrc-table: pool\n"
            "text-column: nope\n",
        )


def test_leakage_audit_job_reports_and_gates(engine, home, spark):
    """leakage-audit job class: publishes the per-(split,split) report
    from a staged pair table, passes within max-leaking, FAILS the job
    when cross-split pairs exceed it, and computes pairs from text when
    no pairs-table is staged."""
    # split corpus: 0/1 train, 2 test; near-dup pair (1,2) straddles
    engine.save_table(
        spark.createDataFrame(
            [
                (0, "alpha beta gamma delta", "train"),
                (1, "the quick brown fox jumps over the lazy dog today", "train"),
                (2, "the quick brown fox jumps over the lazy dog now", "test"),
            ],
            "doc_id long, text string, split string",
        ),
        "split_corpus",
    )
    engine.save_table(
        spark.createDataFrame(
            [(1, 2, 0.8)], "id_a long, id_b long, jaccard double"
        ),
        "staged_pairs",
    )
    # report-only (no max-leaking): publishes the cell, job succeeds
    r = run_job(
        engine, home, "la.job",
        "class: leakage-audit\ndest-table: leak_report\n"
        "src-table: split_corpus\npairs-table: staged_pairs\n",
    )
    assert r.success and "1 leaking" in r.message
    cells = {
        (c.split_a, c.split_b): (c.n_pairs, c.n_leaking)
        for c in engine.table("leak_report").collect()
    }
    assert cells == {("test", "train"): (1, 1)}
    # permissive gate passes; zero-tolerance gate fails the job
    assert run_job(
        engine, home, "la2.job",
        "class: leakage-audit\ndest-table: leak_report2\n"
        "src-table: split_corpus\npairs-table: staged_pairs\n"
        "max-leaking: 1\n",
    ).success
    with pytest.raises(JobFailure, match="leaking"):
        run_job(
            engine, home, "la3.job",
            "class: leakage-audit\ndest-table: leak_report3\n"
            "src-table: split_corpus\npairs-table: staged_pairs\n"
            "max-leaking: 0\n",
        )
    # computed-pairs path: MinHash-LSH + exact Jaccard finds the same
    # straddling twin directly from the corpus text
    with pytest.raises(JobFailure, match="leaking"):
        run_job(
            engine, home, "la4.job",
            "class: leakage-audit\ndest-table: leak_report4\n"
            "src-table: split_corpus\njaccard-threshold: 0.5\n"
            "max-leaking: 0\n",
        )
    leak4 = engine.table("leak_report4").collect()
    assert any(c.split_a != c.split_b and c.n_pairs >= 1 for c in leak4)
    # a pair with one UNSPLIT side must surface as leaking, never fold
    # into a same-split cell (least/greatest skip NULLs — round-9
    # review finding): doc 5 has no split, its near-twin sits in test
    engine.save_table(
        spark.createDataFrame(
            [
                (5, "the quick brown fox jumps over the lazy dog soon", None),
                (2, "the quick brown fox jumps over the lazy dog now", "test"),
            ],
            "doc_id long, text string, split string",
        ),
        "split_corpus_null",
    )
    engine.save_table(
        spark.createDataFrame(
            [(2, 5, 0.9)], "id_a long, id_b long, jaccard double"
        ),
        "null_pairs",
    )
    with pytest.raises(JobFailure, match="leaking"):
        run_job(
            engine, home, "la5.job",
            "class: leakage-audit\ndest-table: leak_report5\n"
            "src-table: split_corpus_null\npairs-table: null_pairs\n"
            "max-leaking: 0\n",
        )
    cells5 = {
        (c.split_a, c.split_b): c.n_leaking
        for c in engine.table("leak_report5").collect()
    }
    assert cells5 == {("test", "unsplit"): 1}
    # BOTH sides unsplit: the (unsplit, unsplit) diagonal counts as
    # leaking too (second-pass review: it used to hide as a same-split
    # cell and slip a zero-tolerance gate)
    engine.save_table(
        spark.createDataFrame(
            [
                (8, "the quick brown fox jumps over the lazy dog one", None),
                (9, "the quick brown fox jumps over the lazy dog two", None),
            ],
            "doc_id long, text string, split string",
        ),
        "split_corpus_null2",
    )
    engine.save_table(
        spark.createDataFrame(
            [(8, 9, 0.9)], "id_a long, id_b long, jaccard double"
        ),
        "null_pairs2",
    )
    with pytest.raises(JobFailure, match="leaking"):
        run_job(
            engine, home, "la6.job",
            "class: leakage-audit\ndest-table: leak_report6\n"
            "src-table: split_corpus_null2\npairs-table: null_pairs2\n"
            "max-leaking: 0\n",
        )
    cells6 = {
        (c.split_a, c.split_b): c.n_leaking
        for c in engine.table("leak_report6").collect()
    }
    assert cells6 == {("unsplit", "unsplit"): 1}


def test_leakage_audit_computed_pairs_unrelated_id_column(engine, home, spark):
    """Round-9 advice: the computed-pairs path projects id_col into 'id'
    explicitly — a source table that ALREADY carries an unrelated 'id'
    column must not produce an ambiguous-reference failure."""
    engine.save_table(
        spark.createDataFrame(
            [
                (0, 900, "the quick brown fox jumps over the lazy dog today", "train"),
                (1, 901, "the quick brown fox jumps over the lazy dog now", "test"),
            ],
            "doc_id long, id long, text string, split string",
        ),
        "split_corpus_idclash",
    )
    with pytest.raises(JobFailure, match="leaking"):
        run_job(
            engine, home, "la7.job",
            "class: leakage-audit\ndest-table: leak_report7\n"
            "src-table: split_corpus_idclash\njaccard-threshold: 0.5\n"
            "max-leaking: 0\n",
        )
    cells = {
        (c.split_a, c.split_b): c.n_leaking
        for c in engine.table("leak_report7").collect()
    }
    assert cells == {("test", "train"): 1}


_RUN14 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"  # 14 tokens


def test_span_registry_job_cross_snapshot_scrub(engine, home, spark):
    """span-registry job class, plain-parquet registry: snapshot one
    seeds the registry and publishes unchanged; snapshot two scrubs the
    >= min-span spans duplicating history, keeps novel/untouched docs
    verbatim (original casing), passes NULL text through; a labeled
    REPLAY is verdict-stable (the probe excludes its own snapshot);
    registry-compact collapses the double-appended rows."""
    engine.save_table(
        spark.createDataFrame(
            [(1, f"Intro words here {_RUN14} outro trailer closing")],
            "doc_id long, text string",
        ),
        "snap1_docs",
    )
    r1 = run_job(
        engine, home, "sr1.job",
        "class: span-registry\ndest-table: snap1_out\n"
        "src-table: snap1_docs\nregistry-table: span_reg_plain\n"
        "snapshot: s1\n",
    )
    assert r1.success and r1.rows == 1
    # first snapshot: published verbatim, registry seeded + labeled
    assert engine.table("snap1_out").first().text.startswith("Intro words")
    reg = engine.table("span_reg_plain")
    assert reg.count() > 0
    assert {r.snapshot for r in reg.select("snapshot").distinct().collect()} == {"s1"}

    engine.save_table(
        spark.createDataFrame(
            [
                (10, f"Totally different opening {_RUN14} and a new tail here"),
                (11, "An Entirely novel document with NO prior overlap at all"),
                (12, None),
            ],
            "doc_id long, text string",
        ),
        "snap2_docs",
    )
    r2 = run_job(
        engine, home, "sr2.job",
        "class: span-registry\ndest-table: snap2_out\n"
        "src-table: snap2_docs\nregistry-table: span_reg_plain\n"
        "snapshot: s2\n",
    )
    assert r2.success and r2.rows == 3 and "1 touched" in r2.message
    out = {r.doc_id: r.text for r in engine.table("snap2_out").collect()}
    # doc 10 lost exactly the 14-token history run (normalized rebuild)
    assert out[10] == "totally different opening and a new tail here"
    # untouched docs keep ORIGINAL casing; NULL text passes through
    assert out[11] == "An Entirely novel document with NO prior overlap at all"
    assert out[12] is None
    # replay of snapshot s2: same verdicts (self-anchors excluded)
    r2b = run_job(
        engine, home, "sr2b.job",
        "class: span-registry\ndest-table: snap2_out_replay\n"
        "src-table: snap2_docs\nregistry-table: span_reg_plain\n"
        "snapshot: s2\n",
    )
    assert r2b.success and "1 touched" in r2b.message
    replay = {r.doc_id: r.text for r in engine.table("snap2_out_replay").collect()}
    assert replay == out
    # the replay double-appended s2 rows; compact collapses to 1/key and
    # keeps the FIRST-seen snapshot label per key
    reg2 = engine.table("span_reg_plain")
    assert reg2.count() > reg2.select("ahash").distinct().count()
    rc = run_job(
        engine, home, "src.job",
        "class: registry-compact\ndest-table: span_reg_plain\n"
        "key-columns: ahash\nsnapshot-column: snapshot\n",
    )
    assert rc.success
    reg3 = engine.table("span_reg_plain")
    assert reg3.count() == reg3.select("ahash").distinct().count()
    assert {r.snapshot for r in reg3.select("snapshot").distinct().collect()} == {
        "s1",
        "s2",
    }


def test_span_registry_job_bucketed_registry(engine, home, spark):
    """span-registry with registry-buckets: the registry lives as a
    bucketed catalog table (ahash co-location), appends stay bucketed,
    the probe scrubs identically, and bucketed registry-compact
    preserves the layout."""
    engine.save_table(
        spark.createDataFrame(
            [(1, f"history doc carrying the run {_RUN14} right here")],
            "doc_id long, text string",
        ),
        "bsnap1_docs",
    )
    assert run_job(
        engine, home, "bsr1.job",
        "class: span-registry\ndest-table: bsnap1_out\n"
        "src-table: bsnap1_docs\nregistry-table: span_reg_bkt\n"
        "snapshot: s1\nregistry-buckets: 4\n",
    ).success
    assert engine.bucketed_table_exists("span_reg_bkt")
    seeded = engine.bucketed_table("span_reg_bkt", "ahash", 4).count()
    assert seeded > 0
    engine.save_table(
        spark.createDataFrame(
            [
                (10, f"new batch doc with the historical {_RUN14} inside it"),
                (11, "novel text that matches nothing from the prior snapshot"),
            ],
            "doc_id long, text string",
        ),
        "bsnap2_docs",
    )
    r2 = run_job(
        engine, home, "bsr2.job",
        "class: span-registry\ndest-table: bsnap2_out\n"
        "src-table: bsnap2_docs\nregistry-table: span_reg_bkt\n"
        "snapshot: s2\nregistry-buckets: 4\n",
    )
    assert r2.success and "1 touched" in r2.message
    out = {r.doc_id: r.text for r in engine.table("bsnap2_out").collect()}
    assert out[10] == "new batch doc with the historical inside it"
    assert out[11] == "novel text that matches nothing from the prior snapshot"
    # the append grew the bucketed table
    reg = engine.bucketed_table("span_reg_bkt", "ahash", 4)
    assert reg.count() > seeded
    # bucketed compaction: one row per key, still a bucketed table
    assert run_job(
        engine, home, "bsrc.job",
        "class: registry-compact\ndest-table: span_reg_bkt\n"
        "key-columns: ahash\nsnapshot-column: snapshot\nbuckets: 4\n",
    ).success
    reg2 = engine.bucketed_table("span_reg_bkt", "ahash", 4)
    assert reg2.count() == reg2.select("ahash").distinct().count()
    plan = (
        reg2.select("ahash")
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Bucketed: true" in plan and "Exchange" not in plan
    # buckets without key-columns is a parameter error
    from bricolage_spark.exception import ParameterError

    with pytest.raises(ParameterError, match="key-columns"):
        run_job(
            engine, home, "bsrx.job",
            "class: registry-compact\ndest-table: span_reg_bkt\nbuckets: 4\n",
        )


def test_registry_compact_rebuckets_live_span_registry(engine, home, spark):
    """The last untested lifecycle transition (r11 verdict #7): a LIVE
    bucketed span registry re-bucketed 8 -> 16 by registry-compact at
    probe time — the next snapshot's probe must return identical scrub
    verdicts off the re-bucketed layout, and the stale count must fail
    fast. Also pins the fix this test forced: registry-compact reads
    with the WRITTEN sidecar spec (reading with the requested new count
    would fail its own drift guard circularly — the guard's error
    message points at registry-compact as the migration)."""
    engine.save_table(
        spark.createDataFrame(
            [(1, f"history doc carrying the run {_RUN14} right here")],
            "doc_id long, text string",
        ),
        "rb1_docs",
    )
    assert run_job(
        engine, home, "rb1.job",
        "class: span-registry\ndest-table: rb1_out\n"
        "src-table: rb1_docs\nregistry-table: span_reg_rb\n"
        "snapshot: s1\nregistry-buckets: 8\n",
    ).success
    keys_before = {
        r.ahash
        for r in engine.bucketed_table("span_reg_rb", "ahash", 8)
        .select("ahash").distinct().collect()
    }
    assert keys_before
    # the deployment flips registry-buckets 8 -> 16: registry-compact IS
    # the migration (reads the written 8-bucket spec, writes 16)
    assert run_job(
        engine, home, "rb2.job",
        "class: registry-compact\ndest-table: span_reg_rb\n"
        "key-columns: ahash\nsnapshot-column: snapshot\nbuckets: 16\n",
    ).success
    assert engine.bucket_spec("span_reg_rb")["n_buckets"] == 16
    # stale count now fails fast — the contract, both directions
    from bricolage_spark.exception import JobFailure

    with pytest.raises(JobFailure, match="bucket spec mismatch"):
        engine.bucketed_table("span_reg_rb", "ahash", 8)
    # keys survive the rewrite exactly
    reg16 = engine.bucketed_table("span_reg_rb", "ahash", 16)
    assert {r.ahash for r in reg16.select("ahash").collect()} == keys_before
    # and the bucketed scan is real: Exchange-free distinct on the key
    plan = (
        reg16.select("ahash").distinct()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Bucketed: true" in plan and "Exchange" not in plan
    # next snapshot probes the re-bucketed history with the new count:
    # identical verdicts (historical span scrubbed, novel doc untouched)
    engine.save_table(
        spark.createDataFrame(
            [
                (10, f"new page with the historical {_RUN14} inside"),
                (11, "novel text matching nothing in prior snapshots"),
            ],
            "doc_id long, text string",
        ),
        "rb2_docs",
    )
    r2 = run_job(
        engine, home, "rb3.job",
        "class: span-registry\ndest-table: rb2_out\n"
        "src-table: rb2_docs\nregistry-table: span_reg_rb\n"
        "snapshot: s2\nregistry-buckets: 16\n",
    )
    assert r2.success and "1 touched" in r2.message
    out = {r.doc_id: r.text for r in engine.table("rb2_out").collect()}
    assert _RUN14 not in (out[10] or "")
    assert out[11] == "novel text matching nothing in prior snapshots"
    spark.sql("DROP TABLE IF EXISTS span_reg_rb")


def test_epoch_plan_job_reports_and_gates(engine, home, spark):
    """epoch-plan job class: publishes the |sources| data-card table,
    the launch gate fires on oversampled sources only when asked, and
    parameters validate."""
    from bricolage_spark.exception import ParameterError

    rows = [(i, "big" if i < 90 else "small", 400) for i in range(100)]
    engine.save_table(
        spark.createDataFrame(rows, "doc_id long, source string, n_chars int"),
        "plan_pool",
    )
    # 100 tokens/doc: big=9000 tokens, small=1000. A 12k budget splits
    # by sqrt share (~9.0k/3.0k): small implies 3 epochs -> under 4.
    r = run_job(
        engine, home, "ep.job",
        "class: epoch-plan\ndest-table: plan_out\nsrc-table: plan_pool\n"
        "budget-tokens: 12000\nmax-epochs: 4\n",
    )
    assert r.success and r.rows == 2
    plan = {p.source: p for p in engine.table("plan_out").collect()}
    assert plan["big"].n_tokens == 9000 and plan["small"].n_tokens == 1000
    assert sum(p.target_tokens for p in plan.values()) <= 12000
    assert not any(p.oversampled for p in plan.values())
    # a 40k budget over-epochs the small source -> gate fires when asked
    r2 = run_job(
        engine, home, "ep2.job",
        "class: epoch-plan\ndest-table: plan_out2\nsrc-table: plan_pool\n"
        "budget-tokens: 40000\nmax-epochs: 4\n",
    )
    assert r2.success and "1 oversampled" in r2.message
    with pytest.raises(JobFailure, match="oversampled|epochs"):
        run_job(
            engine, home, "ep3.job",
            "class: epoch-plan\ndest-table: plan_out3\nsrc-table: plan_pool\n"
            "budget-tokens: 40000\nmax-epochs: 4\nfail-on-oversampled: true\n",
        )
    # the gate still PUBLISHED the plan before failing (auditors read it)
    assert engine.table("plan_out3").count() == 2
    with pytest.raises(ParameterError):
        run_job(
            engine, home, "ep4.job",
            "class: epoch-plan\ndest-table: x\nsrc-table: plan_pool\n"
            "budget-tokens: 0\n",
        )
    with pytest.raises(ParameterError):
        run_job(
            engine, home, "ep5.job",
            "class: epoch-plan\ndest-table: x\nsrc-table: plan_pool\n"
            "budget-tokens: 100\ntoken-column: nope\n",
        )
    # mode: unimax (q111) — a budget that over-epochs the small source
    # under temperature is capped BY CONSTRUCTION: small saturates at
    # its 4-epoch capacity (4000), big takes the uniform level (26000 =
    # 30000 - 4000, under its 36000 capacity), nothing past 4 epochs
    r6 = run_job(
        engine, home, "ep6.job",
        "class: epoch-plan\ndest-table: plan_out6\nsrc-table: plan_pool\n"
        "budget-tokens: 30000\nmax-epochs: 4\nmode: unimax\n",
    )
    assert r6.success and "unimax" in r6.message and "0 oversampled" in r6.message
    uni = {p.source: p for p in engine.table("plan_out6").collect()}
    assert uni["small"].saturated and uni["small"].target_tokens == 4000
    assert not uni["big"].saturated and uni["big"].target_tokens == 26000
    assert all(p.epochs <= 4.0 for p in uni.values())
    with pytest.raises(ParameterError, match="mode"):
        run_job(
            engine, home, "ep7.job",
            "class: epoch-plan\ndest-table: x\nsrc-table: plan_pool\n"
            "budget-tokens: 100\nmode: zipf\n",
        )


def test_calibration_report_job(engine, home, spark):
    """calibration-report job class: publishes per-bucket means over the
    independent repetition signals; repetitive docs show a higher
    dup_word_frac column than clean docs wherever both buckets exist."""
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta " * 3)
            for i in range(20)]
    rows += [(100 + i, "spam spam spam spam spam spam spam spam " * 3)
             for i in range(20)]
    engine.save_table(
        spark.createDataFrame(rows, "doc_id long, text string"), "cal_pool"
    )
    r = run_job(
        engine, home, "cal.job",
        "class: calibration-report\ndest-table: cal_out\n"
        "src-table: cal_pool\nbuckets: 5\n",
    )
    assert r.success and 1 <= r.rows <= 5
    cells = engine.table("cal_out").collect()
    assert sum(c.n_docs for c in cells) == 40
    for c in cells:
        assert 0 <= c.score_bucket <= 4
        assert 0.0 <= c.gopher_keep_rate <= 1.0
        # the spam docs carry dup_word_frac ~0.96, clean ~0.67: any
        # bucket holding only spam shows the higher mean
        assert 0.0 <= c.avg_dup_word_frac <= 1.0


def test_assert_job_gates_on_violations(engine, home):
    """assert job class: clean data passes, violations fail the job with
    offending rows quoted, max-violations tolerates a budget, and
    fail-if-empty asserts existence."""
    # violations query: rows with NULL v (none initially)
    ok = run_job(
        engine, home, "a1.sql.job",
        "/*\nclass: assert\nsrc-tables: {s: src_events}\n*/\n"
        "select id from $s where v is null;\n",
    )
    assert ok.success and "assert ok" in ok.message

    with pytest.raises(JobFailure, match="violation"):
        run_job(
            engine, home, "a2.sql.job",
            "/*\nclass: assert\nsrc-tables: {s: src_events}\n"
            "message: ids must stay under 3\n*/\n"
            "select id from $s where id >= 3;\n",
        )
    try:
        run_job(
            engine, home, "a2b.sql.job",
            "/*\nclass: assert\nsrc-tables: {s: src_events}\n"
            "message: ids must stay under 3\n*/\n"
            "select id from $s where id >= 3;\n",
        )
    except JobFailure as err:
        assert "ids must stay under 3" in str(err) and "(3,)" in str(err)

    # a violation budget tolerates the row
    ok2 = run_job(
        engine, home, "a3.sql.job",
        "/*\nclass: assert\nsrc-tables: {s: src_events}\nmax-violations: 1\n*/\n"
        "select id from $s where id >= 3;\n",
    )
    assert ok2.success

    # fail-if-empty: existence check
    ok3 = run_job(
        engine, home, "a4.sql.job",
        "/*\nclass: assert\nmode: fail-if-empty\nsrc-tables: {s: src_events}\n*/\n"
        "select * from $s;\n",
    )
    assert ok3.success
    with pytest.raises(JobFailure, match="no rows"):
        run_job(
            engine, home, "a5.sql.job",
            "/*\nclass: assert\nmode: fail-if-empty\nsrc-tables: {s: src_events}\n*/\n"
            "select * from $s where 1 = 0;\n",
        )


def test_example_crawl_home_three_snapshots(engine, tmp_path):
    """The recurring-crawl example: the SAME jobnet runs once per
    snapshot (-v snap/data_date), accumulating a corpus and a band
    registry — later snapshots' near-dups of history are dropped, the
    registry stays compacted (one row per key), and a re-run of the last
    snapshot is idempotent (insert-delta publish)."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ex_home = os.path.join(repo_root, "examples", "crawl_home")
    c = Context(engine, home=ex_home)
    runner = JobNetRunner(c, queue_dir=str(tmp_path / "queue"))
    net = os.path.join(ex_home, "crawl", "crawl.jobnet")

    sizes = {}
    for snap, date in ((0, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-03")):
        report = runner.run(
            net, cmd_variables={"snap": str(snap), "data_date": date},
            clear_queue=True,
        )
        assert report.success, (snap, report.failed)
        sizes[date] = engine.table("corpus").count()
    assert sizes["2024-01-01"] < sizes["2024-01-02"] < sizes["2024-01-03"]

    # registry is compacted: one row per (band_id, band_hash)
    reg = engine.table("crawl_registry")
    assert reg.count() == reg.select("band_id", "band_hash").distinct().count()
    # the bucketed span-anchor registry accumulated all three snapshots'
    # published anchors and stayed compacted (one row per digest) — the
    # q110 registry family's recurring-crawl wiring
    span_reg = engine.bucketed_table("crawl_span_registry", "ahash", 4)
    assert span_reg.count() == span_reg.select("ahash").distinct().count()
    assert {
        r.snapshot for r in span_reg.select("snapshot").distinct().collect()
    } == {"2024-01-01", "2024-01-02", "2024-01-03"}
    # the span stage rewrites text but never drops a doc
    assert (
        engine.table("snapshot_span_fresh").count()
        == engine.table("snapshot_fresh").count()
    )
    # corpus never holds two docs with identical normalized content
    from pyspark.sql import functions as SF
    from bricolage_spark.operators.dedup import content_hash
    corpus = engine.table("corpus")
    dups = (
        corpus.select(content_hash(SF.col("text")).alias("h"))
        .groupBy("h").count().where("count > 1").count()
    )
    assert dups == 0
    # per-snapshot accounting exists for all three crawls
    assert engine.table("corpus_report").count() == 3

    # drift report: one row set per (snapshot, source), JS within
    # [0, ln 2], and snapshots beyond the first measured against real
    # history
    import math

    drift = engine.table("drift_report")
    assert set(drift.columns) == {
        "source", "n_vocab", "n_a", "n_b", "js_divergence", "snapshot",
    }
    assert {r.snapshot for r in drift.select("snapshot").distinct().collect()} == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }
    assert drift.where(
        (SF.col("js_divergence") < 0)
        | (SF.col("js_divergence") > math.log(2) + 1e-9)
    ).count() == 0
    assert drift.where("snapshot = '2024-01-02' and n_b = 0").count() == 0
    n_drift = drift.count()

    # host ranking branch: every host in the link graph is ranked and
    # total rank mass is conserved
    links = engine.table("host_links")
    hosts = (
        links.select(SF.col("src").alias("id"))
        .union(links.select(SF.col("dst").alias("id")))
        .distinct()
        .count()
    )
    rank = engine.table("host_rank")
    assert rank.count() == hosts
    assert abs(rank.agg(SF.sum("rank")).first()[0] - 1.0) < 1e-9

    # idempotent re-run of the last snapshot: corpus and drift unchanged
    report = runner.run(
        net, cmd_variables={"snap": "2", "data_date": "2024-01-03"},
        clear_queue=True,
    )
    assert report.success
    assert engine.table("corpus").count() == sizes["2024-01-03"]
    assert engine.table("drift_report").count() == n_drift


def test_load_json_failfast_without_maxerror(engine, home, tmp_path):
    """The load contract 'maxerror absent/0 keeps FAILFAST' holds for
    json too: Spark's json default is PERMISSIVE, which would turn a
    malformed record into an all-NULL row instead of failing the job."""
    (home / "subsys" / "t.ct").write_text("create table x\n( x int\n, y varchar(20)\n);\n")
    data = tmp_path / "in"
    data.mkdir()
    (data / "bad.json").write_text('{"x": 1, "y": "a"}\n{"x": 2,,}\n')
    from bricolage_spark.exception import JobError

    with pytest.raises(JobError):
        run_job(
            engine, home, "loadjf.job",
            f"class: load\ndest-table: jf\nsrc-file: {data}/bad.json\n"
            "table-def: t.ct\nformat: json\n",
        )
    # with a maxerror budget the bad line quarantines and the good row loads
    r2 = run_job(
        engine, home, "loadjf2.job",
        f"class: load\ndest-table: jf\nsrc-file: {data}/bad.json\n"
        "table-def: t.ct\nformat: json\noptions: {maxerror: 5}\n",
    )
    assert r2.success and r2.rows == 1
    assert engine.table("jf__errors").count() == 1


def test_insert_reports_written_rows_without_rescan(engine, home):
    """insert's rows counter comes from the write-time observation of
    the script's INSERT, not a post-write count() of the whole dest."""
    engine.save_table(engine.table("src_events").limit(3), "seed_dest")
    r = run_job(
        engine, home, "insrows.sql.job",
        "/*\nclass: insert\ndest-table: seed_dest\nsrc-tables: {s: src_events}\n*/\n"
        "insert into $dest_table select * from $s where id <= 2;\n",
    )
    assert r.success
    assert r.rows == 2                      # rows INSERTED, not table size
    assert engine.table("seed_dest").count() == 5


def test_drift_report_rejects_unknown_columns(engine, home, spark):
    """drift-report validates its column parameters upfront."""
    from bricolage_spark.exception import ParameterError

    engine.save_table(
        spark.createDataFrame(
            [(1, "s", "t", "2024-01-01")],
            "doc_id long, source string, text string, snapshot string",
        ),
        "dr_src",
    )
    with pytest.raises(ParameterError, match="no such column"):
        run_job(
            engine, home, "drbad.job",
            "class: drift-report\ndest-table: dr_out\nsrc-table: dr_src\n"
            "current-snapshot: 2024-01-01\ngroup-column: nope\n",
        )


def test_registry_compact_rejects_buckets_with_target_partitions(
    engine, home, spark
):
    """A bucketed rewrite always lands at `buckets` files — passing
    target-partitions alongside must raise, not silently drop one."""
    from bricolage_spark.exception import ParameterError

    engine.save_table_bucketed(
        spark.createDataFrame([("x",)], "ahash string"), "reg_conflict",
        "ahash", 4,
    )
    try:
        with pytest.raises(ParameterError, match="target-partitions"):
            run_job(
                engine, home, "conflict.job",
                "class: registry-compact\ndest-table: reg_conflict\n"
                "key-columns: ahash\nbuckets: 4\ntarget-partitions: 8\n",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_conflict")


def test_registry_compact_migrates_plain_registry_to_bucketed(
    engine, home, spark
):
    """The one-time layout migration the span_registry_prior flip guard
    points at: seed a PLAIN span registry, flip the deployment to
    registry-buckets via one registry-compact run, and the next
    span-registry snapshot probes the MIGRATED history (no reseed, no
    lost span-dedup verdicts); the plain table is retired."""
    from bricolage_spark.exception import JobFailure
    from bricolage_spark.streaming.curation import span_registry_prior

    engine.save_table(
        spark.createDataFrame(
            [(1, f"history doc carrying the run {_RUN14} right here")],
            "doc_id long, text string",
        ),
        "mig1_docs",
    )
    assert run_job(
        engine, home, "mig1.job",
        "class: span-registry\ndest-table: mig1_out\n"
        "src-table: mig1_docs\nregistry-table: span_reg_mig\n"
        "snapshot: s1\n",
    ).success
    n_plain = engine.table("span_reg_mig").count()
    assert n_plain > 0
    # the flip guard fires before migration...
    with pytest.raises(JobFailure, match="registry-compact"):
        span_registry_prior(engine, "span_reg_mig", n_buckets=4)
    # ...and registry-compact IS the migration
    rc = run_job(
        engine, home, "mig2.job",
        "class: registry-compact\ndest-table: span_reg_mig\n"
        "key-columns: ahash\nsnapshot-column: snapshot\nbuckets: 4\n",
    )
    assert rc.success
    try:
        assert engine.bucketed_table_exists("span_reg_mig")
        assert not engine.table_exists("span_reg_mig")  # plain retired
        migrated = span_registry_prior(engine, "span_reg_mig", n_buckets=4)
        assert migrated.count() == n_plain
        # next snapshot probes the migrated history: the historical run
        # is scrubbed, the novel doc unharmed
        engine.save_table(
            spark.createDataFrame(
                [
                    (10, f"new page with the historical {_RUN14} inside"),
                    (11, "novel text matching nothing in prior snapshots"),
                ],
                "doc_id long, text string",
            ),
            "mig2_docs",
        )
        r2 = run_job(
            engine, home, "mig3.job",
            "class: span-registry\ndest-table: mig2_out\n"
            "src-table: mig2_docs\nregistry-table: span_reg_mig\n"
            "snapshot: s2\nregistry-buckets: 4\n",
        )
        assert r2.success
        out = {r.doc_id: r.text for r in engine.table("mig2_out").collect()}
        assert _RUN14 not in (out[10] or "")
        assert out[11] == "novel text matching nothing in prior snapshots"
    finally:
        spark.sql("DROP TABLE IF EXISTS span_reg_mig")


def test_registry_compact_completes_crashed_migration(engine, home, spark):
    """Crash-window recovery: both layouts on disk (bucketed write
    landed, plain-retire step didn't) must not be silently readable as
    plain — span_registry_prior(0) raises on the stale twin, and
    re-running registry-compact with buckets is the idempotent
    completion that retires it."""
    from bricolage_spark.exception import JobFailure
    from bricolage_spark.streaming.curation import span_registry_prior

    rows = spark.createDataFrame([(f"h{i}",) for i in range(20)], "ahash string")
    # simulate the crash window: plain AND bucketed both present,
    # bucketed strictly newer (one extra appended row)
    engine.save_table(rows, "span_reg_crash")
    engine.save_table_bucketed(
        rows.unionByName(
            spark.createDataFrame([("h_new",)], "ahash string")
        ),
        "span_reg_crash", "ahash", 4,
    )
    try:
        # plain layout request: the stale twin must NOT be served
        with pytest.raises(JobFailure, match="BUCKETED"):
            span_registry_prior(engine, "span_reg_crash", n_buckets=0)
        # bucketed request serves the canonical (newer) copy
        assert span_registry_prior(engine, "span_reg_crash", 4).count() == 21
        # re-running compact completes the migration: twin retired
        assert run_job(
            engine, home, "crash.job",
            "class: registry-compact\ndest-table: span_reg_crash\n"
            "key-columns: ahash\nbuckets: 4\n",
        ).success
        assert not engine.table_exists("span_reg_crash")
        assert span_registry_prior(engine, "span_reg_crash", 4).count() == 21
    finally:
        spark.sql("DROP TABLE IF EXISTS span_reg_crash")


def test_registry_compact_never_deletes_a_plain_twin_with_novel_rows(
    engine, home, spark
):
    """r11 advice: the crash-leftover presumption must be VERIFIED, not
    acted on — if the plain same-name table holds keys the bucketed
    registry does not (appends that landed on the plain layout after a
    partial migration), deleting it loses dedup history irrecoverably.
    Such a twin is renamed to <dir>.__retired__ and reported, never
    rmtree'd; a true subset twin is still dropped (idempotent
    completion, previous test)."""
    import os

    rows = spark.createDataFrame([(f"h{i}",) for i in range(10)], "ahash string")
    engine.save_table_bucketed(rows, "span_reg_novel", "ahash", 4)
    # the plain twin carries TWO keys the bucketed registry lacks
    engine.save_table(
        rows.unionByName(
            spark.createDataFrame([("orphan1",), ("orphan2",)], "ahash string")
        ),
        "span_reg_novel",
    )
    plain_dir = engine.table_dir("span_reg_novel")
    try:
        res = run_job(
            engine, home, "novel.job",
            "class: registry-compact\ndest-table: span_reg_novel\n"
            "key-columns: ahash\nbuckets: 4\n",
        )
        assert res.success
        # twin preserved under a unique .__retired__ dir, view gone
        assert not engine.table_exists("span_reg_novel")
        import glob as _glob

        retired = _glob.glob(plain_dir + ".__retired__*")
        assert len(retired) == 1
        kept = spark.read.parquet(retired[0])
        assert kept.where(kept.ahash == "orphan1").count() == 1
        assert "NOT deleted" in res.message
        # the bucketed registry is intact and canonical
        assert engine.bucketed_table("span_reg_novel", "ahash", 4).count() == 10
        # a SECOND twin retirement must not clobber the first's rows
        engine.save_table(
            spark.createDataFrame([("orphan3",)], "ahash string"),
            "span_reg_novel",
        )
        assert run_job(
            engine, home, "novel2.job",
            "class: registry-compact\ndest-table: span_reg_novel\n"
            "key-columns: ahash\nbuckets: 4\n",
        ).success
        both = _glob.glob(plain_dir + ".__retired__*")
        assert len(both) == 2 and retired[0] in both
        first = spark.read.parquet(retired[0])
        assert first.where(first.ahash == "orphan1").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS span_reg_novel")


def test_registry_compact_twin_probe_includes_snapshot_column(
    engine, home, spark
):
    """r12 ADVICE: post-migration appends reuse EXISTING keys with NEW
    snapshot labels — a keys-only probe classifies such a twin
    novel==0 and deletes it, losing the appended snapshot rows. With a
    snapshot-column declared, the probe anti-joins on (key, snapshot)
    and the twin is renamed aside, never deleted."""
    import glob as _glob

    rows = spark.createDataFrame(
        [(f"h{i}", "2026-01-01") for i in range(10)], "ahash string, snap string"
    )
    engine.save_table_bucketed(rows, "span_reg_snap", "ahash", 4)
    # the twin's KEYS are all present in the bucketed copy — only the
    # snapshot labels are new (the exact shape the keys-only probe lost)
    engine.save_table(
        spark.createDataFrame(
            [("h0", "2026-02-01"), ("h1", "2026-02-01")],
            "ahash string, snap string",
        ),
        "span_reg_snap",
    )
    plain_dir = engine.table_dir("span_reg_snap")
    try:
        res = run_job(
            engine, home, "snapprobe.job",
            "class: registry-compact\ndest-table: span_reg_snap\n"
            "key-columns: ahash\nsnapshot-column: snap\nbuckets: 4\n",
        )
        assert res.success
        retired = _glob.glob(plain_dir + ".__retired__*")
        assert len(retired) == 1, "snapshot-bearing twin must be preserved"
        kept = spark.read.parquet(retired[0])
        assert kept.where(kept.snap == "2026-02-01").count() == 2
        assert "NOT deleted" in res.message
        # a twin that matches on (key, snapshot) is still the true
        # crash leftover: idempotent completion drops it
        engine.save_table(rows.limit(3), "span_reg_snap")
        assert run_job(
            engine, home, "snapprobe2.job",
            "class: registry-compact\ndest-table: span_reg_snap\n"
            "key-columns: ahash\nsnapshot-column: snap\nbuckets: 4\n",
        ).success
        assert len(_glob.glob(plain_dir + ".__retired__*")) == 1
        assert not engine.table_exists("span_reg_snap")
    finally:
        spark.sql("DROP TABLE IF EXISTS span_reg_snap")


def test_registry_compact_never_deletes_a_foreign_schema_twin(
    engine, home, spark
):
    """A plain same-name table WITHOUT the key columns is an unrelated
    table reusing the name, not a migration leftover — renamed aside,
    never deleted."""
    import os

    rows = spark.createDataFrame([(f"h{i}",) for i in range(10)], "ahash string")
    engine.save_table_bucketed(rows, "span_reg_foreign", "ahash", 4)
    engine.save_table(
        spark.createDataFrame([(1, "x")], "some_id long, payload string"),
        "span_reg_foreign",
    )
    plain_dir = engine.table_dir("span_reg_foreign")
    try:
        res = run_job(
            engine, home, "foreign.job",
            "class: registry-compact\ndest-table: span_reg_foreign\n"
            "key-columns: ahash\nbuckets: 4\n",
        )
        assert res.success
        import glob as _glob

        retired = _glob.glob(plain_dir + ".__retired__*")
        assert len(retired) == 1
        assert spark.read.parquet(retired[0]).count() == 1
        assert "NOT deleted" in res.message
    finally:
        spark.sql("DROP TABLE IF EXISTS span_reg_foreign")
