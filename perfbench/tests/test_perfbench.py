"""Tests for the benchmark's own code: generators, the tail rule, span
self time, metric parsing, pass arithmetic, and output checks catching
corrupted results.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen
from perfbench.trace import Span, parse_metric, self_time, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make,n", [(gen.kv_rows, 400), (gen.documents, 400), (gen.vectors, 300)]
)
def test_generators_are_deterministic_per_seed(tmp_path, make, n):
    d1, m1 = make(str(tmp_path / "a"), n, 7)
    d2, m2 = make(str(tmp_path / "b"), n, 7)
    d3, _ = make(str(tmp_path / "c"), n, 8)
    paths = ("input", "queries")
    assert {k: v for k, v in m1.items() if k not in paths} == {
        k: v for k, v in m2.items() if k not in paths
    }
    assert _digest(d1) == _digest(d2)
    assert _digest(d1) != _digest(d3)


def test_image_layout_moves_with_seed_but_oracle_does_not(tmp_path):
    _, a = gen.image_corpus(str(tmp_path), 200, 1)
    _, a2 = gen.image_corpus(str(tmp_path / "again"), 200, 1)
    _, b = gen.image_corpus(str(tmp_path), 200, 2)
    assert a["expected"] == b["expected"]
    assert a["violations_per_part"] == b["violations_per_part"]
    ids = lambda m: pq.read_table(m["images"]).column("image_id").to_pylist()  # noqa: E731
    assert ids(a) == ids(a2)
    assert ids(a) != ids(b) and sorted(ids(a)) == sorted(ids(b))


def test_planted_properties_hold(tmp_path):
    _, kv = gen.kv_rows(str(tmp_path), 2000, 3)
    assert 0.30 < kv["planted"]["hot_shape_share"] < 0.38
    assert kv["n_valid"] == sum(kv["histogram"].values()) < kv["n_rows"]
    _, docs = gen.documents(str(tmp_path), 2000, 3)
    assert docs["planted"]["min_near_jaccard"] >= gen.CURATE_THRESHOLD
    assert len(docs["boilerplate_ids"]) == int(2000 * gen.BOILERPLATE_SHARE)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    value, pct, n = tail_percentile(list(reversed(xs)))
    assert (value, pct, n) == (10.0, 50.0, 20)
    assert sum(x > value for x in xs) == 10
    value, pct, n = tail_percentile([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", "call", None, 1, 0.0, 10.0)
    kids = [
        Span(1, "a", "call", 0, 1, 1.0, 3.0),
        Span(2, "b", "call", 0, 1, 2.0, 4.0),  # overlaps a
        Span(3, "c", "force", 0, 1, 6.0, 7.0),
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(kids[0], []) == pytest.approx(2.0)


def test_end_to_end_pools_the_lanes_of_a_pass():
    from perfbench.run import OpRecord, end_to_end

    class Lane:
        def __init__(self, items):
            self.items = items

    ops = [
        OpRecord("validate_job", 1, 6.0, 12.0, True, 9, 10, False),
        OpRecord("curate_job", 1, 4.0, 8.0, False, 1, 10, False, "CheckFailed: x"),
        OpRecord("full_probe", 0, 99.0, 99.0, True, 0, 0, False),  # final check: untimed
    ]
    res = {"ops": ops, "lanes": [Lane(1500), Lane(500)], "setup_s": 7.0, "peak_rss_mb": 900.0}
    m = end_to_end(res)
    assert m["items_per_s"] == pytest.approx(2000 / 10.0)
    assert m["cpu_s_per_kitem"] == pytest.approx(20.0 / 2.0)
    assert m["recall"] == pytest.approx(10 / 20)
    assert m["ops_ok_ratio"] == pytest.approx(2 / 3)
    # a second pass: every metric is the median over passes
    ops.append(OpRecord("validate_job", 2, 2.0, 4.0, True, 10, 10, False))
    ops.append(OpRecord("curate_job", 2, 2.0, 4.0, True, 10, 10, False))
    ops.append(OpRecord("validate_job", 3, 3.0, 6.0, True, 10, 10, False))
    ops.append(OpRecord("curate_job", 3, 2.0, 4.0, True, 10, 10, False))
    assert end_to_end(res)["items_per_s"] == pytest.approx(2000 / 5.0)


def test_parse_metric_reads_spark_formatted_totals():
    assert parse_metric("4.2 s") == pytest.approx(4.2)
    assert parse_metric("15 ms") == pytest.approx(0.015)
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("2,000,000") == 2_000_000
    text = "total (min, med, max (stageId: taskId))\n4.2 s (2.1 s, 2.1 s, 2.1 s (stage 0.0: task 0))"
    assert parse_metric(text) == pytest.approx(4.2)


def _distinct_output(out, oracle, corrupt=False):
    hist = dict(oracle["histogram"])
    if corrupt:
        k = next(iter(hist))
        hist[k] += 1
    total = oracle["n_valid"]
    rows = [(s, c, c * 100 // total) for s, c in hist.items()]
    os.makedirs(f"{out}/distinct")
    pq.write_table(
        pa.table({"schema": [r[0] for r in rows], "count": [r[1] for r in rows],
                  "percent": [r[2] for r in rows]}),
        f"{out}/distinct/part-0.parquet",
    )
    top = max(rows, key=lambda r: r[1])
    with open(f"{out}/top_schemas.json", "w") as f:
        f.write(json.dumps({"schema": top[0], "count": top[1], "percent": top[2]}) + "\n")


def test_schema_infer_check_catches_a_corrupted_count(tmp_path):
    _, oracle = gen.kv_rows(str(tmp_path / "c"), 1000, 5)
    _distinct_output(str(tmp_path / "ok"), oracle)
    n = len(oracle["histogram"])
    assert checks.check_schema_infer(str(tmp_path / "ok"), 0, oracle) == (n, n)
    _distinct_output(str(tmp_path / "bad"), oracle, corrupt=True)
    with pytest.raises(checks.CheckFailed) as failed:
        checks.check_schema_infer(str(tmp_path / "bad"), 0, oracle)
    # the failed op still reports the partial score, for the recall metric
    assert (failed.value.hits, failed.value.total) == (n - 1, n)
    with pytest.raises(checks.CheckFailed):  # a failed job exit code fails the op
        checks.check_schema_infer(str(tmp_path / "ok"), 1, oracle)


def _curate_output(out, oracle, keep_exact_dup=False):
    import pyarrow.dataset as ds

    t = ds.dataset(oracle["input"], format="parquet").to_table()
    texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    drop = {b for _, b in oracle["exact_pairs"]} | set(oracle["boilerplate_ids"][1:])
    if keep_exact_dup:
        drop.discard(oracle["exact_pairs"][0][1])
    pairs = oracle["near_pairs"] + oracle["exact_pairs"]
    jac = [
        round(len(gen.shingles(texts[a]) & gen.shingles(texts[b]))
              / len(gen.shingles(texts[a]) | gen.shingles(texts[b])), 6)
        for a, b in pairs
    ]
    os.makedirs(f"{out}/corpus")
    os.makedirs(f"{out}/pairs")
    pq.write_table(pa.table({"doc_id": [i for i in texts if i not in drop]}),
                   f"{out}/corpus/part-0.parquet")
    pq.write_table(pa.table({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
                             "jaccard": jac}), f"{out}/pairs/part-0.parquet")
    with open(f"{out}/metrics.json", "w") as f:
        json.dump({"input_docs": oracle["n_docs"]}, f)
    return texts


def test_curate_check_catches_a_kept_exact_duplicate(tmp_path):
    _, oracle = gen.documents(str(tmp_path / "c"), 600, 2)
    texts = _curate_output(str(tmp_path / "ok"), oracle)
    n = len(oracle["near_pairs"])
    assert checks.check_curate(str(tmp_path / "ok"), 0, oracle, texts) == (n, n)
    _curate_output(str(tmp_path / "bad"), oracle, keep_exact_dup=True)
    with pytest.raises(checks.CheckFailed):
        checks.check_curate(str(tmp_path / "bad"), 0, oracle, texts)


def test_topk_check_rejects_unsorted_or_short_answers():
    good = [(i, 1.0 - i / 100) for i in range(10)]
    checks.check_topk(good)
    with pytest.raises(checks.CheckFailed):
        checks.check_topk(good[:9])
    with pytest.raises(checks.CheckFailed):
        checks.check_topk(list(reversed(good)))


def test_benchmark_json_matches_the_runner():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def test_supervise_ends_orphaned_descendants(tmp_path):
    """A process the child leaves behind, in its own session even, is
    re-parented to the supervisor, ended and reaped before it returns; the
    child's exit code comes back."""
    import subprocess
    import sys

    pids = tmp_path / "pids"
    script = f"sleep 60 & echo $! > {pids}; setsid sleep 60 & echo $! >> {pids}; exit 3"
    sup = subprocess.run(
        [sys.executable, "-c",
         "import sys; from perfbench import proc; "
         f"sys.exit(proc.supervise(['bash', '-c', {script!r}], grace_s=0.2, term_s=1))"],
        cwd=ROOT, timeout=30,
    )
    assert sup.returncode == 3
    left = [int(p) for p in pids.read_text().split()]
    assert len(left) == 2
    assert not [p for p in left if os.path.exists(f"/proc/{p}")]


def test_sequencefile_reads_back_through_hadoop(tmp_path):
    """The pure-Python writer produces a file Spark's SequenceFile reader
    splits and decodes (sync markers included)."""
    from schema_inference_spark.session import get_spark
    from schema_inference_spark.sources.sequencefile import read_sequencefile_values

    values = [f"row{i}\x01h\x01k\x02{'v' * (i % 50)}" for i in range(3000)]
    os.makedirs(tmp_path / "seq")
    gen.write_sequencefile(str(tmp_path / "seq" / "part-00000"), values, b"0123456789abcdef")
    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    got = read_sequencefile_values(spark, str(tmp_path / "seq"), min_partitions=4)
    assert got.rdd.getNumPartitions() > 1
    assert sorted(r["value"] for r in got.collect()) == sorted(values)
