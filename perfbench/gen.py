"""Seeded input generators for the benchmark's four lanes.

The generators are pure Python/NumPy/pyarrow; the one input that needs
Spark (the drift snapshot) is made in a child process. Either way
generation stays outside the measured driver and its timed set-up. Inputs are cached on disk by
(workload, size, seed) under the checkout's ``.perfbench_cache/``; the same
seed always yields the same bytes. Each generator returns a dict of paths
plus the oracle the output checks compare against, and records the planted
properties (and their shares) that ``BENCHMARK.json`` documents.

The program under test never sees a seed: it receives only these files.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# cache plumbing
# ---------------------------------------------------------------------------


# bump when a generator changes what it writes: cached inputs are keyed on it
GEN_VERSION = 2


def cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for ``key``, building it once with
    ``build(tmp_dir) -> meta``. The build writes into a temporary dir that
    is renamed into place, so an interrupted build never looks complete."""
    d = os.path.join(cache_root, f"v{GEN_VERSION}-{key}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            return d, json.load(f)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, meta


def _split_write(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of contiguous row ranges."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# validate: the datagen.images corpus, physical layout shuffled by seed
# ---------------------------------------------------------------------------

IMAGE_PARTS = 8
IMAGE_FILES = 4


def image_corpus(cache_root: str, n: int, seed: int) -> tuple[str, dict]:
    """The ``datagen.images`` corpus (the package's own generator, which is
    also the oracle). The corpus itself does not depend on the seed; the
    seed only permutes row order and picks the file split, so every
    expected result is seed-invariant (results must not depend on layout).
    The file count is fixed so the seed does not change scan parallelism.
    """

    def build_base(d: str) -> dict:
        from schema_inference_spark.datagen.images import (
            generate_image_corpus,
            simulate_violation_rows,
        )

        corpus = generate_image_corpus(n, n_parts=IMAGE_PARTS)
        images = corpus.images.astype({"w": "int32", "h": "int32", "part": "int32"})
        captions = corpus.captions.astype({"part": "int32"})
        pq.write_table(pa.Table.from_pandas(images, preserve_index=False), f"{d}/images.parquet")
        pq.write_table(pa.Table.from_pandas(captions, preserve_index=False), f"{d}/captions.parquet")
        # a clean snapshot of the same shape: the drift check must pass
        snap = generate_image_corpus(max(500, n // 10), n_parts=IMAGE_PARTS, with_violations=False)
        snap_images = snap.images.astype({"w": "int32", "h": "int32", "part": "int32"})
        pq.write_table(
            pa.Table.from_pandas(snap_images, preserve_index=False), f"{d}/snapshot_images.parquet"
        )
        rows = simulate_violation_rows(corpus.images, corpus.captions)
        per_part = rows.groupby(["part", "check_name"]).size()
        hot = int((corpus.images.phash == corpus.images.phash.mode()[0]).sum())
        return {
            "n_images": int(len(images)),
            "n_captions": int(len(captions)),
            "n_parts": IMAGE_PARTS,
            "expected": corpus.expected,
            "violations_per_part": {f"{p}/{c}": int(v) for (p, c), v in per_part.items()},
            "planted": {"hot_phash_share": round(hot / len(images), 4)},
        }

    base_dir, base = cached(cache_root, f"images-n{n}", build_base)

    def build_layout(d: str) -> dict:
        rng = np.random.default_rng(seed)
        for name in ("images", "captions"):
            t = pq.read_table(f"{base_dir}/{name}.parquet")
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            _split_write(t, f"{d}/{name}", IMAGE_FILES)
        return {"n_files": IMAGE_FILES}

    d, layout = cached(cache_root, f"validate-n{n}-s{seed}", build_layout)
    return d, {
        **base,
        **layout,
        "images": f"{d}/images",
        "captions": f"{d}/captions",
        "snapshot_images": f"{base_dir}/snapshot_images.parquet",
    }


def drift_snapshot(cache_root: str, n: int, snapshot_images: str) -> str:
    """The profile table ``validate_job --snapshot`` compares against, as an
    earlier production run over the clean snapshot corpus leaves it. It is
    made once per corpus size by ``profile_images`` in a child process with
    its own Spark session, so no measured run gets a JVM this step warmed."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def build(d: str) -> dict:
        subprocess.run(
            [sys.executable, "-m", "perfbench.gen", "snapshot", snapshot_images, f"{d}/profile"],
            cwd=root, check=True, stdout=sys.stderr,
        )
        return {}

    d, _ = cached(cache_root, f"snapshot-n{n}", build)
    return f"{d}/profile"


def _write_snapshot(images: str, out: str) -> None:
    from perfbench.proc import stop_gateway
    from schema_inference_spark.operators.profile import profile_images
    from schema_inference_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-snapshot", master="local[2]", extra_conf={"spark.driver.memory": "1g"}
    )
    try:
        profile_images(spark.read.parquet(images)).write.parquet(out)
    finally:
        spark.stop()
        stop_gateway()


# ---------------------------------------------------------------------------
# schema_infer: ^A/^B/^C rows in a SequenceFile<BytesWritable, Text>
# ---------------------------------------------------------------------------

_SEQ_SYNC_EVERY = 2000  # bytes between sync markers (Hadoop's SYNC_INTERVAL is 100 * 20)


def _vint(n: int) -> bytes:
    """Hadoop WritableUtils.writeVInt (zero-compressed encoded integer)."""
    if -112 <= n <= 127:
        return struct.pack(">b", n)
    length = -112
    if n < 0:
        n ^= -1
        length = -120
    tmp = n
    while tmp:
        tmp >>= 8
        length -= 1
    out = [struct.pack(">b", length)]
    nbytes = -(length + 120) if length < -120 else -(length + 112)
    for idx in range(nbytes, 0, -1):
        out.append(struct.pack(">B", (n >> ((idx - 1) * 8)) & 0xFF))
    return b"".join(out)


def _hadoop_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return _vint(len(b)) + b


def write_sequencefile(path: str, values: list[str], sync: bytes) -> None:
    """Uncompressed SequenceFile<BytesWritable, Text> (format version 6),
    with a sync marker every ~2 KB so Hadoop can split the file."""
    header = (
        b"SEQ\x06"
        + _hadoop_string("org.apache.hadoop.io.BytesWritable")
        + _hadoop_string("org.apache.hadoop.io.Text")
        + b"\x00\x00"  # not compressed, not block-compressed
        + struct.pack(">i", 0)  # empty metadata
        + sync
    )
    with open(path, "wb") as f:
        f.write(header)
        since_sync = 0
        for i, v in enumerate(values):
            if since_sync >= _SEQ_SYNC_EVERY:
                f.write(struct.pack(">i", -1) + sync)
                since_sync = 0
            key_raw = struct.pack(">q", i)
            key = struct.pack(">i", len(key_raw)) + key_raw  # BytesWritable
            val = _hadoop_string(v)  # Text
            rec = struct.pack(">ii", len(key) + len(val), len(key)) + key + val
            f.write(rec)
            since_sync += len(rec)


# canonical shape of a KV row, written independently of the package: keys
# sorted, 'type' first, nested JSON values recursed
def _shape_str(node) -> str:
    if isinstance(node, str):
        return f'{{"type":"{node}"}}'
    kind, inner = node
    if kind == "array":
        return f'{{"type":"array","items":{_shape_str(inner)}}}'
    props = ",".join(f'"{k}":{_shape_str(inner[k])}' for k in sorted(inner))
    return f'{{"type":"object","properties":{{{props}}}}}'


def _value_for(node, rng: np.random.Generator) -> str:
    if node == "integer":
        return str(int(rng.integers(0, 10**6)))
    if node == "number":
        return f"{rng.integers(0, 10**4)}.{rng.integers(1, 99):02d}"
    if node == "string":
        return "v" + "".join("abcdefgh"[x] for x in rng.integers(0, 8, 6))
    if node == "boolean":
        return "true" if rng.integers(0, 2) else "false"
    kind, inner = node
    if kind == "array":
        return "[" + ",".join(_json_scalar(inner, rng) for _ in range(3)) + "]"
    return "{" + ",".join(f'"{k}":{_json_scalar(inner[k], rng)}' for k in sorted(inner)) + "}"


def _json_scalar(t: str, rng: np.random.Generator) -> str:
    if t == "integer":
        return str(int(rng.integers(0, 1000)))
    if t == "number":
        return f"{rng.integers(0, 100)}.5"
    if t == "boolean":
        return "true"
    return '"s' + str(int(rng.integers(0, 100))) + '"'


_SCALARS = ("integer", "number", "string", "boolean")


def _shape_templates(n_shapes: int) -> list[dict]:
    """Fixed (seed-independent) shape templates: key -> type node. Every
    seventh template carries a nested-JSON object value and every fifth an
    array value, so the recursive path of the shape UDF runs."""
    rng = np.random.default_rng(12345)
    out = []
    for s in range(n_shapes):
        n_keys = 3 + s % 6
        keys = {f"k{int(x)}" for x in rng.choice(40, size=n_keys, replace=False)}
        t = {k: _SCALARS[int(rng.integers(0, 4))] for k in sorted(keys)}
        if s % 7 == 3:
            t["nested"] = ("object", {"x": "integer", "y": "string"})
        if s % 5 == 2:
            t["tags"] = ("array", "integer")
        out.append(t)
    return out


KV_SHAPES = 60
KV_HOT_SHARE = 0.34  # the reference's data/distinct hot-shape share
KV_MALFORMED_SHARE = 0.02
KV_FILES = 4


def kv_rows(cache_root: str, n: int, seed: int) -> tuple[str, dict]:
    """``n`` delimited rows over a Zipf-like shape mix: template 0 is hot
    (34% of rows), the rest follow 1/rank; 2% of rows are malformed (wrong
    field count or empty payload) and must be dropped by the job."""

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        templates = _shape_templates(KV_SHAPES)
        tail = 1.0 / np.arange(1, KV_SHAPES)
        probs = np.concatenate([[KV_HOT_SHARE], (1 - KV_HOT_SHARE) * tail / tail.sum()])
        kinds = rng.choice(KV_SHAPES, size=n, p=probs)
        malformed = rng.random(n) < KV_MALFORMED_SHARE
        hist: dict[str, int] = {}
        values = []
        for i in range(n):
            ts = str(1_700_000_000 + i)
            host = f"host{int(rng.integers(0, 16))}"
            if malformed[i]:
                values.append(f"{ts}\x01{host}" if i % 2 else f"{ts}\x01{host}\x01")
                continue
            t = templates[kinds[i]]
            payload = "\x03".join(f"{k}\x02{_value_for(t[k], rng)}" for k in t)
            values.append(f"{ts}\x01{host}\x01{payload}")
            shape = _shape_str(("object", t))
            hist[shape] = hist.get(shape, 0) + 1
        os.makedirs(f"{d}/seq")
        sync = rng.bytes(16)
        bounds = np.linspace(0, n, KV_FILES + 1).astype(int)
        for f in range(KV_FILES):
            write_sequencefile(
                f"{d}/seq/part-{f:05d}", values[bounds[f] : bounds[f + 1]], sync
            )
        n_valid = int((~malformed).sum())
        return {
            "n_rows": n,
            "n_valid": n_valid,
            "histogram": hist,
            "planted": {
                "hot_shape_share": round(max(hist.values()) / n_valid, 4),
                "malformed_share": round(int(malformed.sum()) / n, 4),
                "distinct_shapes": len(hist),
            },
        }

    d, meta = cached(cache_root, f"schema_infer-n{n}-s{seed}", build)
    return d, {**meta, "input": f"{d}/seq"}


# ---------------------------------------------------------------------------
# curate: documents with planted exact / near duplicates and boilerplate
# ---------------------------------------------------------------------------

DOC_WORDS = 25
EXACT_SHARE = 0.03
NEAR_SHARE = 0.03
BOILERPLATE_SHARE = 0.02  # one cluster of identical docs: a hot LSH bucket
CURATE_THRESHOLD = 0.6


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-word shingles of a single-space-separated text."""
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def documents(cache_root: str, n: int, seed: int) -> tuple[str, dict]:
    """``n`` docs of 25 random words. Planted: exact copies of earlier docs
    (3%), near copies with one or two adjacent words replaced (3%; every
    such pair has exact 3-shingle Jaccard >= 0.7), and one boilerplate cluster of
    identical docs (2%), whose bucket makes the LSH self-join quadratic."""

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        vocab = [f"w{x:05x}" for x in range(50_000)]
        ids = rng.permutation(np.arange(n, dtype=np.int64) * 7 + 11)
        n_exact = int(n * EXACT_SHARE)
        n_near = int(n * NEAR_SHARE)
        n_boiler = int(n * BOILERPLATE_SHARE)
        n_unique = n - n_exact - n_near - n_boiler
        texts = [
            " ".join(vocab[x] for x in rng.integers(0, len(vocab), DOC_WORDS))
            for _ in range(n_unique)
        ]
        boiler = "boilerplate " + " ".join(vocab[x] for x in rng.integers(0, len(vocab), DOC_WORDS - 1))
        sources = rng.choice(n_unique, size=n_exact + n_near, replace=False)
        exact_pairs, near_pairs = [], []
        for j, s in enumerate(sources):
            if j < n_exact:
                texts.append(texts[s])
                exact_pairs.append((int(s), len(texts) - 1))
            else:
                # one word, or two adjacent words, replaced: Jaccard >= 0.7
                w = texts[s].split(" ")
                pos = int(rng.integers(1, DOC_WORDS - 1))
                for p in range(pos, pos + 1 + j % 2):
                    w[p] = "edit" + vocab[int(rng.integers(0, len(vocab)))]
                texts.append(" ".join(w))
                near_pairs.append((int(s), len(texts) - 1))
        texts.extend([boiler] * n_boiler)
        order = ids[: len(texts)]  # row i gets doc_id order[i]
        table = pa.table({"doc_id": pa.array(order), "text": pa.array(texts)})
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        _split_write(table, f"{d}/docs", 4)

        def pair(a: int, b: int) -> list[int]:
            return sorted((int(order[a]), int(order[b])))

        near = [pair(a, b) for a, b in near_pairs]
        jac = [
            len(shingles(texts[a]) & shingles(texts[b])) / len(shingles(texts[a]) | shingles(texts[b]))
            for a, b in near_pairs
        ]
        if min(jac) < CURATE_THRESHOLD:
            raise ValueError(f"planted near pair below threshold: {min(jac)}")
        return {
            "n_docs": n,
            "exact_pairs": [pair(a, b) for a, b in exact_pairs],
            "near_pairs": near,
            "boilerplate_ids": sorted(int(order[i]) for i in range(len(texts) - n_boiler, len(texts))),
            "planted": {
                "exact_dup_share": round(n_exact / n, 4),
                "near_dup_share": round(n_near / n, 4),
                "boilerplate_share": round(n_boiler / n, 4),
                "min_near_jaccard": round(min(jac), 4),
            },
        }

    d, meta = cached(cache_root, f"curate-n{n}-s{seed}", build)
    return d, {**meta, "input": f"{d}/docs"}


# ---------------------------------------------------------------------------
# ann: clustered unit-ish vectors plus a fixed query set
# ---------------------------------------------------------------------------

VEC_DIM = 64
VEC_CLUSTERS = 32
N_QUERIES = 64


def vectors(cache_root: str, n: int, seed: int) -> tuple[str, dict]:
    """``n`` float32 vectors in 32 Gaussian clusters on the sphere (d=64),
    plus 64 query vectors drawn from the same clusters."""

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        centers = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        which = rng.integers(0, VEC_CLUSTERS, n)
        vecs = (centers[which] + 0.25 * rng.normal(size=(n, VEC_DIM)) / np.sqrt(VEC_DIM)).astype(
            np.float32
        )
        qwhich = rng.integers(0, VEC_CLUSTERS, N_QUERIES)
        queries = centers[qwhich] + 0.25 * rng.normal(size=(N_QUERIES, VEC_DIM)) / np.sqrt(VEC_DIM)
        ids = np.arange(n, dtype=np.int64)
        offsets = pa.array(np.arange(0, n * VEC_DIM + 1, VEC_DIM, dtype=np.int32))
        emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))
        table = pa.table({"vec_id": ids, "embedding": emb})
        _split_write(table, f"{d}/vectors", 4)
        np.save(f"{d}/queries.npy", queries)
        return {
            "n_vectors": n,
            "dim": VEC_DIM,
            "planted": {"clusters": VEC_CLUSTERS, "queries": N_QUERIES},
        }

    d, meta = cached(cache_root, f"ann-n{n}-s{seed}", build)
    return d, {**meta, "input": f"{d}/vectors", "queries": f"{d}/queries.npy"}


def brute_topk(vecs: np.ndarray, q: np.ndarray, k: int = 10) -> list[int]:
    """Brute-force cosine top-k ids (ties by id), float64, for recall."""
    v = vecs.astype(np.float64)
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    sims = np.round(sims, 6)
    order = np.lexsort((np.arange(len(sims)), -sims))
    return [int(i) for i in order[:k]]


if __name__ == "__main__":
    if sys.argv[1:2] == ["snapshot"] and len(sys.argv) == 4:
        _write_snapshot(sys.argv[2], sys.argv[3])
    else:
        sys.exit("usage: python3 -m perfbench.gen snapshot <images.parquet> <out dir>")
