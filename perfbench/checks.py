"""Per-op output checks against the generators' oracles.

The job checks read the op's output files with pyarrow, so checking adds
no Spark job to the op. Every check raises ``CheckFailed`` on the first
mismatch (the runner counts that op as failed). A check scores the
output first: (hits, total), the oracle items it reproduced out of all of
them. It returns that score, or carries it in ``CheckFailed``, so a partial
loss shows in the recall metric even when the op fails.
"""

from __future__ import annotations

import json

import pyarrow.dataset as ds

from perfbench.gen import CURATE_THRESHOLD, shingles

ROW_CHECKS = (
    "domain_fmt", "domain_dims", "null_caption", "unique_image_id", "unique_phash",
    "ref_orphan_image", "ref_orphan_caption", "caption_equality", "pixel_decode",
    "pixel_dims", "pixel_psnr",
)


class CheckFailed(Exception):
    def __init__(self, msg: str, hits: int = 0, total: int = 0):
        super().__init__(msg)
        self.hits, self.total = hits, total


def _require(cond: bool, msg: str, score: tuple[int, int] = (0, 0)) -> None:
    if not cond:
        raise CheckFailed(msg, *score)


def _table(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def check_validate(out: str, rc: int, oracle: dict) -> tuple[int, int]:
    """Violation ids per check equal datagen's ``expected``; the verdict
    grid is parts x checks with the simulated per-part counts, plus drift
    verdicts; one checkpoint row per part. The job exits 1 by design on
    the planted corpus."""
    _require(rc == 1, f"validate_job exit code {rc}, expected 1 (planted failures)")
    v = _table(f"{out}/violations").to_pandas()
    found = {c: set(v.loc[v.check_name == c, "image_id"]) for c in ROW_CHECKS}
    expected = {c: set(oracle["expected"][c]) for c in ROW_CHECKS}
    score = (
        sum(len(found[c] & expected[c]) for c in ROW_CHECKS),
        sum(len(e) for e in expected.values()),
    )
    for c in ROW_CHECKS:
        _require(found[c] == expected[c], f"violations of {c} differ from the oracle", score)
    extra = set(v.check_name) - set(ROW_CHECKS)
    _require(not extra, f"unexpected violation checks {sorted(extra)}", score)

    verdicts = _table(f"{out}/verdicts").to_pandas()
    row = verdicts[verdicts.check_name.isin(ROW_CHECKS)]
    n_parts = oracle["n_parts"]
    _require(
        len(row) == n_parts * len(ROW_CHECKS), f"verdict grid has {len(row)} row-check rows", score
    )
    _require(
        not row.duplicated(["part", "check_name"]).any(), "verdict grid has duplicate cells", score
    )
    per_part = oracle["violations_per_part"]
    for r in row.itertuples():
        want = per_part.get(f"{int(r.part)}/{r.check_name}", 0)
        _require(
            int(r.n_violations) == want and bool(r.passed) == (want == 0),
            f"verdict {r.part}/{r.check_name}: {r.n_violations} violations, expected {want}",
            score,
        )
    _require(len(verdicts) > len(row), "no drift verdicts", score)
    ckpt = _table(f"{out}/ckpt").to_pandas()
    _require(
        sorted(ckpt.part) == list(range(oracle["n_parts"])), "checkpoint lacks a row per part", score
    )
    return score


def check_schema_infer(out: str, rc: int, oracle: dict) -> tuple[int, int]:
    """The distinct/ table equals the generator's shape histogram, with
    integer-division percents; malformed rows are gone."""
    _require(rc == 0, f"schema_infer_job exit code {rc}")
    t = _table(f"{out}/distinct").to_pandas()
    got = {r.schema: (int(r.count), int(r.percent)) for r in t.itertuples()}
    total = oracle["n_valid"]
    want = {s: (c, c * 100 // total) for s, c in oracle["histogram"].items()}
    score = (sum(1 for s, v in want.items() if got.get(s) == v), len(want))
    _require(len(got) == len(t), "distinct/ repeats a shape", score)
    _require(got == want, f"distinct/ differs from the histogram ({score[0]}/{score[1]} match)", score)
    with open(f"{out}/top_schemas.json", encoding="utf-8") as f:
        top = json.loads(f.readline())
    _require(top["count"] == max(c for c, _ in want.values()), "top shape is not the hot shape", score)
    return score


def check_curate(out: str, rc: int, oracle: dict, texts: dict[int, str]) -> tuple[int, int]:
    """Every planted exact duplicate (and all but one boilerplate doc) is
    dropped; every reported pair has the exact Jaccard it claims, at or
    above the threshold. The score is the planted near-duplicate pairs
    found in ``pairs/``."""
    _require(rc == 0, f"curate_job exit code {rc}")
    pairs = _table(f"{out}/pairs").to_pandas()
    found = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
    near = oracle["near_pairs"]
    score = (sum(1 for a, b in near if (a, b) in found), len(near))
    kept = set(_table(f"{out}/corpus").column("doc_id").to_pylist())
    for a, b in oracle["exact_pairs"]:
        _require(b not in kept and a in kept, f"exact duplicate pair {a},{b} not deduplicated", score)
    boiler = oracle["boilerplate_ids"]
    _require(
        [i for i in boiler if i in kept] == [boiler[0]],
        "boilerplate cluster not reduced to its smallest id",
        score,
    )
    cache: dict[int, set] = {}

    def sh(i: int) -> set:
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    for r in pairs.itertuples():
        a, b = sh(int(r.id_a)), sh(int(r.id_b))
        jac = round(len(a & b) / len(a | b), 6)
        _require(
            jac >= CURATE_THRESHOLD and abs(jac - r.jaccard) < 1e-9,
            f"pair {r.id_a},{r.id_b} reports {r.jaccard}, exact {jac}",
            score,
        )
    with open(f"{out}/metrics.json", encoding="utf-8") as f:
        _require(json.load(f)["input_docs"] == oracle["n_docs"], "metrics.json input_docs", score)
    return score


def check_topk(rows: list[tuple[int, float]], k: int = 10) -> None:
    """A top-k answer: k distinct ids, similarities non-increasing."""
    _require(len(rows) == k, f"{len(rows)} results, expected {k}")
    _require(len({i for i, _ in rows}) == k, "duplicate ids in a top-k")
    sims = [s for _, s in rows]
    _require(all(x >= y for x, y in zip(sims, sims[1:])), "top-k not sorted by similarity")


def check_equal(got, want, what: str) -> None:
    _require(got == want, f"{what}: {got!r} != {want!r}")
