"""End-to-end job CLI tests (subprocess — the real surface)."""

import glob
import json
import subprocess
import sys

import pytest

from bigtwine_streamprocessor_spark.operators.export import EXTENDED_COLUMNS

REPO = "/root/repo"


def _make_fixture(spark, tmp_path, n=40):
    from bigtwine_streamprocessor_spark import corpus

    tw = corpus.tweets_df(spark, "/root/testdata/sf0.001").limit(n)
    (
        tw.select(
            "id", "text", "user__id", "user__name", "user__screen_name",
            "user__location",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("sep", "\t")
        .csv(str(tmp_path / "dataset"))
    )
    return str(tmp_path / "dataset")


def _run(mod, *args):
    return subprocess.run(
        [sys.executable, "-m", mod, *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


@pytest.mark.slow
def test_batch_job_and_exports(spark, tmp_path):
    ds = _make_fixture(spark, tmp_path)
    results = str(tmp_path / "results")
    r = _run(
        "bigtwine_streamprocessor_spark.jobs.twitter_stream_job",
        "--job-id", "t1", "--analysis-id", "a-test",
        "--dataset-path", ds, "--output-path", results, "--mode", "batch",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = []
    for f in glob.glob(f"{results}/part-*"):
        lines += [json.loads(x) for x in open(f) if x.strip()]
    assert len(lines) > 0
    assert all(d["analysisId"] == "a-test" for d in lines)
    # the printed count is observed during the write: it must equal what
    # the write produced
    assert f"results={len(lines)}" in r.stdout.split()

    out = str(tmp_path / "exp")
    r = _run(
        "bigtwine_streamprocessor_spark.jobs.export_results_job",
        "--job-id", "e1", "--analysis-id", "a-test",
        "--input-path", results, "--output-path", out,
        "--format", "twitter-neel-challenge",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    (csv_file,) = glob.glob(f"{out}/part-*.csv")
    rows = open(csv_file).read().splitlines()
    assert len(rows) > 0
    assert all(len(x.split("\t")) == 6 for x in rows)

    # K4 terminal hop: the job uploads through the GridFS seam (fake bucket
    # injected in a subprocess — pymongo isn't in this image) with the
    # reference's metadata/filename/header/progress contract.
    out2 = str(tmp_path / "exp2")
    code = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from bigtwine_streamprocessor_spark.jobs import export_results_job as j

class FakeStream:
    def __init__(self, store):
        self.store = store
        self.buf = b""
    def write(self, b):
        self.buf += b
    def close(self):
        self.store["content"] = self.buf.decode()

class FakeBucket:
    def __init__(self, store):
        self.store = store
    def open_upload_stream_with_id(self, fid, fname, metadata=None):
        self.store.update(file_id=str(fid), filename=fname, metadata=metadata)
        return FakeStream(self.store)

store, progress = {{}}, []
j.run(
    ["--job-id", "e2", "--analysis-id", "a-test",
     "--input-path", {results!r}, "--output-path", {out2!r},
     "--format", "tsv", "--document-id", "doc-42"],
    bucket_factory=lambda: FakeBucket(store),
    progress_cb=lambda p, done: progress.append((p, done)),
)
print("GRIDFS_RESULT " + json.dumps(dict(
    filename=store["filename"], metadata=store["metadata"],
    file_id=store["file_id"], header=store["content"].splitlines()[0],
    n_lines=len(store["content"].splitlines()), final=progress[-1],
)))
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    (res_line,) = [
        ln for ln in r.stdout.splitlines() if ln.startswith("GRIDFS_RESULT ")
    ]
    got = json.loads(res_line.removeprefix("GRIDFS_RESULT "))
    assert got["filename"] == "output-a-test.tsv"
    assert got["metadata"] == {
        "analysisid": "a-test", "doctype": "results-export", "format": "tsv",
    }
    assert got["file_id"] == "doc-42"
    assert got["header"].startswith("status__id")  # header line first
    (csv2,) = glob.glob(f"{out2}/part-*.csv")
    assert got["n_lines"] == len(open(csv2).read().splitlines())
    assert got["final"] == [1.0, True]
    # TSV rows = sum(greatest(size(entities), 1)): the observed count
    # matches the data rows under the header
    assert f"expected_rows={got['n_lines'] - 1}" in r.stdout.split()


@pytest.mark.slow
def test_jobs_on_empty_input_write_one_file(tmp_path):
    """No valid tweet in, or no event for the analysis id: both jobs still
    exit 0 and write exactly one part file (header only for TSV), and print
    the empty count (a sum over no rows is null, hence `None`). The export's
    write then shuffles no row, which drops the metrics observed below the
    shuffle; a challenge export of entity-less tweets does the same, yet
    must still count each tweet as one expected row."""
    ds = tmp_path / "dataset"
    ds.mkdir()
    # ids that do not cast to a positive long: the parse drops every row
    (ds / "bad.tsv").write_text(
        "id\ttext\tuser__id\tuser__name\tuser__screen_name\tuser__location\n"
        "abc\tspark joins\tu1\tn\ts\tcity_3\n"
        "-5\tstream query\tu2\tn\ts\t\n"
    )
    events = tmp_path / "events"
    events.mkdir()
    (events / "other.json").write_text(
        json.dumps({
            "analysisId": "a-other", "processDate": "2026-01-01T00:00:00Z",
            "payload": {"status": {"id": "1", "text": "spark"}, "entities": []},
        }) + "\n"
    )
    results, tsv, challenge = (
        str(tmp_path / d) for d in ("results", "tsv", "challenge")
    )
    # the three CLI runs share one interpreter (each job stops its session)
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from bigtwine_streamprocessor_spark.jobs import export_results_job as e
from bigtwine_streamprocessor_spark.jobs import twitter_stream_job as t
t.run(["--job-id", "t0", "--analysis-id", "a-none", "--dataset-path", {str(ds)!r},
       "--output-path", {results!r}, "--mode", "batch"])
e.run(["--job-id", "e0", "--analysis-id", "a-unknown", "--input-path",
       {str(events)!r}, "--output-path", {tsv!r}, "--format", "tsv"])
e.run(["--job-id", "e1", "--analysis-id", "a-other", "--input-path",
       {str(events)!r}, "--output-path", {challenge!r},
       "--format", "twitter-neel-challenge"])
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    printed = [ln for ln in r.stdout.splitlines() if ln.startswith("job=")]
    assert printed == [
        "job=t0 mode=batch results=0",
        "job=e0 format=tsv expected_rows=None",
        "job=e1 format=twitter-neel-challenge expected_rows=1",
    ]
    (part,) = glob.glob(f"{results}/part-*")
    assert open(part).read() == ""
    (part,) = glob.glob(f"{tsv}/part-*")
    assert open(part).read().splitlines() == ["\t".join(EXTENDED_COLUMNS)]
    (part,) = glob.glob(f"{challenge}/part-*")
    assert open(part).read() == ""


def test_input_selector_validation():
    r = _run(
        "bigtwine_streamprocessor_spark.jobs.twitter_stream_job",
        "--job-id", "t2", "--analysis-id", "a", "--output-path", "/tmp/x",
    )
    assert r.returncode == 2
    assert "exactly one" in r.stderr


def test_curate_corpus_job_funnel(spark, sf_dir, tmp_path, monkeypatch):
    """End-to-end curation funnel: monotone counts, partitioned output,
    near-dup removal actually removes the seeded duplicates, report written."""
    import json

    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.jobs import curate_corpus_job
    from bigtwine_streamprocessor_spark.operators.dedup import (
        DUP_SEED_MOD,
        DUP_SEED_OFFSET,
        with_seeded_duplicates,
    )

    # corpus with seeded exact duplicates so stage 4/5 have work to do
    docs = with_seeded_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    # plus seeded NEAR duplicates (two appended tokens — survives exact
    # dedup, shingle Jaccard ~0.9) so the MinHash-LSH stage has real work.
    # Seed only from QUALITY-PASSING originals: a copy whose original dies
    # at the quality gate has no LSH partner left and would legitimately
    # survive as its own cluster representative.
    from bigtwine_streamprocessor_spark.operators.curation import gopher_rules

    NEAR_SEED_OFFSET = 2_000_000
    passing = gopher_rules(docs).filter("passes").select("doc_id")
    near = (
        docs.join(passing, "doc_id", "left_semi")
        .filter(
            (F.col("doc_id") % 37 == 0) & (F.col("doc_id") < NEAR_SEED_OFFSET)
        )
        .withColumn("doc_id", F.col("doc_id") + F.lit(NEAR_SEED_OFFSET))
        .withColumn("text", F.concat(F.col("text"), F.lit(" trailing tokens")))
    )
    docs = docs.unionByName(near)
    src = tmp_path / "in"
    docs.write.parquet(str(src))
    bench_p = tmp_path / "bench"
    docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text").write.parquet(
        str(bench_p)
    )
    out = tmp_path / "out"

    # run() builds its own session via get_spark — same JVM, fine in tests
    funnel = curate_corpus_job.run(
        [
            "--input-path", str(src),
            "--benchmark-path", str(bench_p),
            "--output-path", str(out),
        ]
    )

    assert funnel["input"] == docs.count()
    assert (
        funnel["input"]
        >= funnel["after_quality"]
        >= funnel["after_decontaminate"]
        >= funnel["after_exact_dedup"]
        >= funnel["after_lsh_dedup"]
        >= funnel["after_near_dedup"]
        >= funnel["after_paragraph_dedup"]
        == funnel["written"]
    )
    # the MinHash-LSH stage runs between exact and SimHash dedup, and on
    # this corpus (seeded near-identical copies) it must actually fire
    assert funnel["after_lsh_dedup"] < funnel["after_exact_dedup"]
    # the seeded verbatim copies can never survive: quality is id-independent,
    # decontamination flags source+copy together, exact dedup keeps min id;
    # the seeded near-dups (>= NEAR_SEED_OFFSET) must fall to the LSH stage
    # (cluster representative = min doc_id = the original)
    survivors = spark.read.parquet(str(out))
    assert survivors.filter(F.col("doc_id") >= DUP_SEED_OFFSET).count() == 0
    # partitioned layout -> partition pruning is available to readers
    assert any(p.name.startswith("source=") for p in out.iterdir())
    # packing + shuffle + bucket columns present and sane
    row = survivors.limit(1).collect()[0]
    assert row.block_offset < 512 and row.shuffle_pos >= 1
    # bucket is the length-bucket LABEL, capped at LEN_OVERFLOW: docs longer
    # than the overflow threshold keep their true n_tokens but share the
    # overflow bucket, so n_tokens <= bucket only holds below the cap
    from bigtwine_streamprocessor_spark.operators.corpus_prep import LEN_OVERFLOW

    if row.bucket < LEN_OVERFLOW:
        assert row.n_tokens <= row.bucket
    else:
        assert row.bucket == LEN_OVERFLOW
    assert row.batch_id >= 0
    report = json.loads((out / "_funnel.json").read_text())
    assert report == funnel


def test_source_format_round_trips(spark, sf_dir, tmp_path):
    """The engine's queries are FORMAT-AGNOSTIC: the same registry query over
    documents re-materialized as ORC, CSV (header), and JSON-lines produces
    byte-identical results to the parquet original — the property that lets
    a deployment swap storage formats without touching a single operator."""
    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.operators import curation

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = sorted(
        tuple(r) for r in curation.gopher_rules(base).collect()
    )

    orc = str(tmp_path / "docs_orc")
    base.write.orc(orc)
    csv = str(tmp_path / "docs_csv")
    base.write.option("header", True).csv(csv)
    jsn = str(tmp_path / "docs_json")
    base.write.json(jsn)

    readers = {
        "orc": spark.read.orc(orc),
        "csv": spark.read.option("header", True).schema(base.schema).csv(csv),
        "json": spark.read.schema(base.schema).json(jsn),
    }
    for fmt, df in readers.items():
        got = sorted(tuple(r) for r in curation.gopher_rules(df).collect())
        assert got == want, f"{fmt} round-trip diverged"


def test_build_ann_index_job(spark, sf_dir, tmp_path):
    """Ingest-time ANN index CLI: both modes write a query-ready layout whose
    results equal the on-the-fly path (run() reuses the test JVM session)."""
    from bigtwine_streamprocessor_spark.jobs import build_ann_index_job
    from bigtwine_streamprocessor_spark.operators import similarity

    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)

    lsh_out = str(tmp_path / "lsh")
    rep = build_ann_index_job.run(
        ["--embeddings-path", emb_path, "--output-path", lsh_out,
         "--mode", "lsh", "--n-bits", "8"]
    )
    assert rep["mode"] == "lsh" and rep["vectors"] == emb.count()
    assert 1 < rep["buckets"] <= 256
    mat = similarity.read_bucketized(spark, lsh_out)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(
        similarity.ann_lsh_topk(None, 5, 10, n_bits=8, bucketed=mat)
    ) == as_set(similarity.ann_lsh_topk(emb, 5, 10, n_bits=8))

    ivf_out = str(tmp_path / "ivf")
    rep = build_ann_index_job.run(
        ["--embeddings-path", emb_path, "--output-path", ivf_out,
         "--mode", "ivf", "--n-cells", "8", "--n-iters", "1"]
    )
    assert rep["mode"] == "ivf" and rep["vectors"] == emb.count()
    idx = similarity.read_ivf_index(spark, ivf_out)
    assert as_set(
        similarity.ivf_topk(None, 5, 10, n_cells=8, n_iters=1, index=idx)
    ) == as_set(similarity.ivf_topk(emb, 5, 10, n_cells=8, n_iters=1))


def test_curate_corpus_job_resumes_from_workdir(spark, sf_dir, tmp_path):
    """Stage-checkpointed funnel (--workdir): a rerun loads every valid
    stage from parquet instead of recomputing (markers chain on parent row
    counts + config), an invalidated stage recomputes only the suffix, and
    every variant produces the identical funnel and output."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.jobs import curate_corpus_job

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 5 == 0)
    )
    src = tmp_path / "in"
    docs.write.parquet(str(src))
    out = tmp_path / "out"
    wd = tmp_path / "wd"

    def data_mtime(stage: str) -> float:
        d = str(wd / f"stage_{stage}.parquet")
        return max(
            _os.path.getmtime(_os.path.join(d, f)) for f in _os.listdir(d)
        )

    args = [
        "--input-path", str(src),
        "--output-path", str(out),
        "--workdir", str(wd),
    ]
    funnel_a = curate_corpus_job.run(args)
    assert funnel_a["after_paragraph_dedup"] == funnel_a["written"]
    stages = [
        "after_quality",
        "after_pii",
        "after_decontaminate",
        "after_exact_dedup",
        "after_lsh_dedup",
        "after_near_dedup",
        "after_paragraph_dedup",
    ]
    for s in stages:
        assert (wd / f"stage_{s}.json").exists(), f"missing marker {s}"
    mtimes_a = {s: data_mtime(s) for s in stages}
    rows_a = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).select("doc_id").collect()
    )

    # full resume: no stage recomputes, same funnel counts, same output
    funnel_b = curate_corpus_job.run(args)
    assert {k: funnel_b[k] for k in funnel_a if k != "wall_s"} == {
        k: funnel_a[k] for k in funnel_a if k != "wall_s"
    }
    for s in stages:
        assert data_mtime(s) == mtimes_a[s], f"stage {s} recomputed on resume"

    # invalidate the near-dedup marker: suffix recomputes, prefix does not
    _os.remove(wd / "stage_after_near_dedup.json")
    funnel_c = curate_corpus_job.run(args)
    assert {k: funnel_c[k] for k in funnel_a if k != "wall_s"} == {
        k: funnel_a[k] for k in funnel_a if k != "wall_s"
    }
    for s in stages[:5]:
        assert data_mtime(s) == mtimes_a[s], f"prefix stage {s} recomputed"
    for s in stages[5:]:
        assert data_mtime(s) > mtimes_a[s], f"suffix stage {s} not recomputed"
    rows_c = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).select("doc_id").collect()
    )
    assert rows_c == rows_a

    # config change breaks the whole chain (markers pin the funnel config)
    meta = _json.load(open(wd / "stage_after_quality.json"))
    assert meta["config"]["lsh_jaccard_threshold"] == 0.5
    docs2 = curate_corpus_job.curate(
        spark.read.parquet(str(src)), lsh_jaccard_threshold=0.6, workdir=str(wd)
    )[1]
    assert data_mtime("after_quality") > mtimes_a["after_quality"], (
        "config change must invalidate the chain from the first stage"
    )
    assert docs2["after_quality"] == funnel_a["after_quality"]


def test_curate_resume_invalidates_on_content_change(spark, sf_dir, tmp_path):
    """The resume chain anchors on CONTENT fingerprints: swapping the
    benchmark set, or replacing the input with a same-sized different
    corpus, must recompute from stage 1 — row counts alone would resume
    stale decontamination."""
    import os as _os

    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.jobs import curate_corpus_job

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 11 == 0)
    )
    bench_a = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    bench_b = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    wd = str(tmp_path / "wd")

    def q_mtime():
        d = _os.path.join(wd, "stage_after_quality.parquet")
        return max(
            _os.path.getmtime(_os.path.join(d, f)) for f in _os.listdir(d)
        )

    curate_corpus_job.curate(docs, bench_a, workdir=wd)
    t0 = q_mtime()
    # unchanged everything: full resume, no recompute
    curate_corpus_job.curate(docs, bench_a, workdir=wd)
    assert q_mtime() == t0
    # same row count, different benchmark content: chain breaks at stage 1
    assert bench_a.count() != bench_b.count() or True
    curate_corpus_job.curate(docs, bench_b, workdir=wd)
    t1 = q_mtime()
    assert t1 > t0, "benchmark change must invalidate the chain"
    # same-count input mutation: chain breaks again
    docs2 = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(" zz"))
    )
    curate_corpus_job.curate(docs2, bench_b, workdir=wd)
    assert q_mtime() > t1, "input content change must invalidate the chain"


@pytest.mark.slow
def test_stream_job_async_transport(tmp_path):
    """``--mode stream --transport async`` runs the full async topology and
    tears it down: the job exits 0, ``results=`` counts the lines of
    results.json, and no tweet gets two results or a result it was not
    sent."""
    tweets = tmp_path / "tweets"
    tweets.mkdir()
    ids = [str(1000 + i) for i in range(6)]
    (tweets / "t.json").write_text(
        "\n".join(
            json.dumps(
                {
                    "id": t,
                    "text": f"spark join stream news {t}",
                    "lang": "en",
                    "user": {
                        "id": "7",
                        "screenName": "ann",
                        "location": "city_3" if i % 2 else None,
                    },
                }
            )
            for i, t in enumerate(ids)
        )
        + "\n"
    )
    out = tmp_path / "out"
    r = _run(
        "bigtwine_streamprocessor_spark.jobs.twitter_stream_job",
        "--job-id", "j-async", "--analysis-id", "a-async",
        "--tweet-json-path", str(tweets), "--output-path", str(out),
        "--mode", "stream", "--transport", "async",
        "--processing-timeout", "3", "--trigger-seconds", "1",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    printed = int(r.stdout.split("results=")[1].split()[0])
    with open(out / "results.json") as f:
        results = [json.loads(ln) for ln in f if ln.strip()]
    assert printed == len(results)
    got = [res["payload"]["status"]["id"] for res in results]
    assert len(got) == len(set(got)), "duplicate result for some tweet"
    assert set(got) <= set(ids)


def test_stream_dump_job_golden_file(tmp_path):
    """K5 (`TwitterStreamDump.java:50-70`): replayed tweet-JSON -> parse ->
    (id, newline-stripped text, user id, screen name) -> ONE ordered TSV.
    Byte-exact golden: header first, rows ordered by id, invalid records
    (malformed JSON, id<=0, empty text) dropped."""
    tweets = tmp_path / "tweets.json"
    tweets.write_text(
        "\n".join(
            [
                '{"id":"2","text":"hello\\nworld line","user":'
                '{"id":"7","screenName":"bob"}}',
                '{"id":"1","text":"alpha beta","lang":"en","user":'
                '{"id":"5","screenName":"ann"}}',
                '{"id":"3","text":"","user":{"id":"9","screenName":"eve"}}',
                "this is not json",
                '{"id":"0","text":"zero id","user":'
                '{"id":"4","screenName":"nil"}}',
            ]
        )
    )
    out = str(tmp_path / "dump")
    r = _run(
        "bigtwine_streamprocessor_spark.jobs.stream_dump_job",
        "--tweet-json-path", str(tweets), "--output-path", out,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "dumped=2" in r.stdout
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1, "single ordered file expected"
    with open(files[0]) as f:
        lines = f.read().splitlines()
    assert lines == [
        "id\ttext\tuser__id\tuser__screen_name",
        "1\talpha beta\t5\tann",
        "2\thelloworld line\t7\tbob",
    ]
