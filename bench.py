#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output: one JSON object per line.  The leading lines are sections —
``{"section": "shards", ...}`` (the one-time fixture resharding),
``"cold"``, ``"variance"`` (both warm passes of every query), the scale
legs ``"text_scale"`` and ``"vector_scale"`` when they run, and
``"groups"`` (per-group warm subtotals and the core count).  The LAST line
is the compact headline ``{"metric", "value", "unit", "queries", "sf"}``,
so a tail capture of stdout always ends in one complete JSON object.

Each query runs cold and then warm twice; a query's headline number is the
min of its two warm passes (warm, because at scale the one-shot compile
costs amortize away).  The queries run in three session groups, each
in its own subprocess (fresh JVM), light to heavy: ``relational``,
``pipeline``, ``trainers`` — so the relational shapes never inherit the
trainers' JIT and GC state.  The fixtures are single-row-group parquet
(one scan task each), so every table is first rewritten into
``.bench_shards/<sf>-<digest>/`` with multiple part files (layout only:
rows, values and read schema are identical) and the queries read the
sharded copy.

The scale legs time the flagship text and vector queries over
deterministic synthetic corpora (SPARK_GRAFT_TEXT_DOCS documents,
SPARK_GRAFT_VECTOR_VECS vectors; 0 skips a leg).  They default to 65,536
and 32,768 on a box with 16 or more cores and to 0 below that (a run with
both legs took about 53 minutes on a 32-core box).  Their numbers never
enter the headline.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from auron_spark.session import default_parallelism  # noqa: E402

# Iterative trainers: multi-round jobs whose localCheckpoint/JIT footprint
# pollutes anything sharing their JVM.  Run last, in their own session.
_TRAINERS = {
    "sim_kmeans_lloyd",
    "sim_knn_ivf_trained",
    "sim_ivfpq_trained",
    "sim_semantic_dedup",
    "dedup_canonical_selection",
}
# Light relational shapes: the round-over-round comparable set.  "ds_"
# joined in round 10 — the TPC-DS flagships are pure relational
# join+rollup+window shapes and belong in the relational subtotal, not
# in pipeline's (which their weight would otherwise distort).
_RELATIONAL_PREFIXES = ("window_", "skew_", "agg_", "join_", "sort_", "ds_")
_TPCH_RE = __import__("re").compile(r"^q\d+_")
# Name-prefix exceptions: heavyweight pipeline ops whose names collide with
# the relational prefixes — keeping them out of `relational` preserves the
# round-over-round comparability of the TPC-H-era subtotal.
_PIPELINE_OVERRIDES = {"join_set_similarity_prefix", "agg_heavy_hitters_mg"}

# Layout-only resharding: facts get full scan parallelism, dims stay small
# (32 one-row files for region would be silly).  Unlisted tables default 8.
_SHARD_SPLITS = {
    "lineitem": 32, "orders": 32, "events": 32, "documents": 32,
    "embeddings": 32, "customer": 8, "part": 8, "supplier": 8,
    "nation": 1, "region": 1,
}
_SHARD_ROOT = f"{_REPO}/.bench_shards"

# Flagship text/dedup queries timed over the synthetic scale corpus (their
# builders read ONLY the documents table, so a corpus dir with a single
# documents.parquet serves as sf_dir).  Not bench-tagged in the registry —
# membership here is the bench contract for the scale leg.
_TEXT_SCALE_QUERIES = (
    "join_set_similarity_prefix",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_hamming_pairs",
    "text_kneser_ney_bigram",
    "text_gopher_filters",
    "text_bpe_train",
)

# Flagship vector/ANN queries timed over the synthetic embedding corpus
# (their builders read ONLY the embeddings table).  The driver fixture is
# 500-2000 vectors at every SF, so without this leg the trainer family's
# 100 TB posture is never timed above 2k vectors — the same blind-spot
# class text_scale closed for the text family.  The four k-means-backed
# queries run with k ∝ corpus size (k = n/256, the SemDeDup/IVF block-size
# knob their docstrings advertise); registered-query semantics (k = KM_K)
# are untouched.
_VECTOR_SCALE_QUERIES = (
    "sim_knn_bruteforce_arrow",
    "dedup_embedding_cosine",
)
_VECTOR_SCALE_KSCALED = (
    "sim_kmeans_lloyd",
    "sim_knn_ivf_trained",
    "sim_ivfpq_trained",
    "sim_semantic_dedup",
)


def _group_of(name: str) -> str:
    if name in _TRAINERS:
        return "trainers"
    if name in _PIPELINE_OVERRIDES:
        return "pipeline"
    if _TPCH_RE.match(name) or name.startswith(_RELATIONAL_PREFIXES):
        return "relational"
    return "pipeline"


def _shard_dir_for(sf_dir: str) -> str:
    """``.bench_shards/<sf-name>-<digest>``: the digest covers every source
    table file's (relative path, size, mtime_ns), so a regenerated fixture
    is resharded instead of served from the old copy."""
    import hashlib

    from auron_spark.tables import TABLE_NAMES, files_signature

    root = Path(sf_dir.rstrip("/"))
    h = hashlib.sha1()
    for name in TABLE_NAMES:
        h.update(repr(files_signature(f"{root}/{name}.parquet")).encode())
    return f"{_SHARD_ROOT}/{root.name}-{h.hexdigest()[:12]}"


def _scale_size(var: str, full: int) -> int:
    """A scale leg's corpus size: ``$var``, else ``full`` on a box with 16
    or more cores and 0 (the leg is skipped) below that."""
    return int(os.environ.get(var, full if default_parallelism() >= 16 else 0))


def _build_shards(sf_dir: str) -> dict:
    """Child mode: reshard the fixture dir into .bench_shards (idempotent
    + atomic via ensure_artifact); returns {shard dir: build seconds}."""
    from auron_spark.artifacts import ensure_artifact
    from auron_spark.session import get_spark
    from auron_spark.tables import TABLE_NAMES, table

    spark = get_spark("auron-spark-bench-shard")
    spark.sparkContext.setLogLevel("WARN")
    dest = _shard_dir_for(sf_dir)
    t0 = time.perf_counter()

    def _build(into: str) -> None:
        for name in TABLE_NAMES:
            # table() normalizes physical quirks (ns timestamps) once;
            # the sharded copy is then uniform for every reader.
            df = table(spark, sf_dir, name)
            df.repartition(_SHARD_SPLITS.get(name, 8)).write.mode(
                "overwrite"
            ).parquet(f"{into}/{name}.parquet")

    ensure_artifact(dest, "_SHARDS_COMPLETE", _build)
    out = {dest: round(time.perf_counter() - t0, 3)}
    spark.stop()
    return out


def _build_text_corpus(dest: str, n_docs: int) -> dict:
    """Child mode: synthesize the deterministic text-scale corpus (same
    5-column schema as the driver's documents fixture) entirely Spark-side:
    no driver-side text generation, no randomness — every token is a pure
    function of (base_id, position) via xxhash64, so the corpus is
    byte-stable across rebuilds.  Vocabulary is 10k words with a zipf-like
    skew (cube of a uniform hash: the top ~10 words carry ~10% of tokens,
    the tail is rare), which is what makes prefix-filtering / BM25 df
    statistics behave like real text instead of like the fixture's ~20-word
    vocab.  Planted duplicates: every doc_id % 40 == 39 is an EXACT copy of
    its predecessor, every doc_id % 40 == 19 a NEAR-dup (one appended
    marker word), so the dedup queries have a known-positive signal."""
    from auron_spark.artifacts import ensure_artifact
    from auron_spark.session import get_spark

    spark = get_spark("auron-spark-bench-textcorpus")
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.perf_counter()

    def _build(into: str) -> None:
        vocab = 10_000
        words = (
            "transform(sequence(1, 30 + pmod(xxhash64(base_id, 7), 90)), "
            "j -> concat('w', CAST(CAST("
            f"pow(pmod(xxhash64(base_id, j), 1000000) / 1000000.0, 3.0) "
            f"* {vocab} AS BIGINT) AS STRING)))"
        )
        (
            spark.range(n_docs)
            .selectExpr(
                "id AS doc_id",
                "CASE WHEN id % 20 = 19 THEN id - 1 ELSE id END AS base_id",
                "id % 40 = 19 AS near_dup",
            )
            .selectExpr(
                "doc_id", f"array_join({words}, ' ') AS base_text", "near_dup"
            )
            .selectExpr(
                "doc_id",
                "CASE WHEN near_dup THEN concat(base_text, ' dupmarkerword') "
                "ELSE base_text END AS text",
            )
            .selectExpr(
                "doc_id",
                "text",
                "'en' AS lang",
                "concat('src', CAST(pmod(doc_id, 10) AS STRING)) AS source",
                "CAST(length(text) AS BIGINT) AS n_chars",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{into}/documents.parquet")
        )

    ensure_artifact(dest, "_CORPUS_COMPLETE", _build)
    spark.stop()
    return {"corpus": dest, "n_docs": n_docs,
            "build_sec": round(time.perf_counter() - t0, 3)}


def _build_vector_corpus(dest: str, n_vecs: int) -> dict:
    """Child mode: synthesize the deterministic vector-scale corpus (same
    3-column schema as the driver's embeddings fixture: vec_id BIGINT,
    embedding ARRAY<FLOAT> (64-dim), label INT) entirely Spark-side via
    xxhash64 — byte-stable across rebuilds, no driver-side generation.

    Structure: 128 planted clusters; vector = centroid(cluster) + 2.5x
    per-vector noise, so within-cluster cosine sits near 0.14 (below the
    0.3 near-dup threshold) and k-means has a real signal to find without
    the threshold queries drowning in positives.  ``label`` = the planted
    cluster, giving `dedup_embedding_cosine` ~n/128-row blocks and the PQ
    codebook 128 codewords per subquantizer (production-shaped, vs the
    fixture's handful of labels).  Planted near-dups: every vec_id % 40 ==
    39 shares its predecessor's noise seed plus a 0.02-weight perturbation
    (cosine ~0.999), so the dedup queries have a known-positive signal."""
    from auron_spark.artifacts import ensure_artifact
    from auron_spark.session import get_spark

    spark = get_spark("auron-spark-bench-veccorpus")
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.perf_counter()

    def _build(into: str) -> None:
        n_clusters = 128
        # uniform [-1, 1] components from xxhash64(seed, salt)
        unit = "((pmod(xxhash64({s}, {salt} + j), 2001) - 1000) / 1000.0)"
        comp = (
            unit.format(s="cluster", salt=2000)
            + " + 2.5 * " + unit.format(s="base_id", salt=3000)
            + " + CASE WHEN is_dup THEN 0.02 * "
            + unit.format(s="vec_id", salt=4000)
            + " ELSE 0.0 END"
        )
        (
            spark.range(n_vecs)
            .selectExpr(
                "id AS vec_id",
                "CASE WHEN id % 40 = 39 THEN id - 1 ELSE id END AS base_id",
                "id % 40 = 39 AS is_dup",
            )
            .selectExpr(
                "vec_id",
                "base_id",
                "is_dup",
                f"pmod(xxhash64(base_id, 1001), {n_clusters}) AS cluster",
            )
            .selectExpr(
                "vec_id",
                f"transform(sequence(1, 64), j -> CAST({comp} AS FLOAT)) "
                "AS embedding",
                "CAST(cluster AS INT) AS label",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{into}/embeddings.parquet")
        )

    ensure_artifact(dest, "_CORPUS_COMPLETE", _build)
    spark.stop()
    return {"corpus": dest, "n_vecs": n_vecs,
            "build_sec": round(time.perf_counter() - t0, 3)}


def _run_group(group: str, sf_dir: str) -> dict:
    """Child mode: run one group's queries in this process's own JVM."""
    # Size the bench JVM heap to its 32 concurrent tasks (round-13 text_scale
    # diagnosis): at the session default 8g, 32 string-heavy tasks GC-thrash —
    # the leg read 30.8-38.0 s with uniform inflation and huge run-to-run
    # variance, while the identical leg at 24g reads 24.8 s with every
    # component inside the r11/r12 brackets.  This is the local mirror of
    # sizing executor memory to concurrent task state at 100 TB; tests keep
    # the 8g default (their per-query data is fixture-small).  Capped at
    # half the machine's physical memory: a heap larger than RAM (with no
    # swap) trades GC thrash for the OOM killer.
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{min(24 << 10, phys // 2 >> 20)}m"
    )
    from auron_spark.registry import bench_queries, load_all
    from auron_spark.session import get_spark

    all_specs = load_all()
    k_scaled: int | None = None
    if group == "text_scale":
        specs = {n: all_specs[n] for n in _TEXT_SCALE_QUERIES}
    elif group == "vector_scale":
        from types import SimpleNamespace

        from auron_spark.pipeline import similarity as _sim

        n_vecs = _scale_size("SPARK_GRAFT_VECTOR_VECS", 32768)
        # Single source of truth for the knob; main() reports this value.
        k_scaled = sk = max(_sim.KM_K, n_vecs // 256)
        specs = {n: all_specs[n] for n in _VECTOR_SCALE_QUERIES}
        for n in _VECTOR_SCALE_KSCALED:
            fn = getattr(_sim, n)
            specs[f"{n}_kscaled"] = SimpleNamespace(
                build=lambda s, w, fn=fn: fn(s, w, sk)
            )
    else:
        specs = {
            n: s for n, s in bench_queries().items() if _group_of(n) == group
        }
    spark = get_spark(f"auron-spark-bench-{group}")
    spark.sparkContext.setLogLevel("WARN")

    def run(spec, where: str) -> float:
        t0 = time.perf_counter()
        spec.build(spark, where).write.format("noop").mode("overwrite").save()
        elapsed = round(time.perf_counter() - t0, 3)
        # Outside the timed window: release driver-side refs so the
        # ContextCleaner drops localCheckpoint RDDs now, not mid-measurement.
        import gc

        gc.collect()
        spark._jvm.System.gc()
        return elapsed

    cold: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {}
    for name, spec in sorted(specs.items()):
        cold[name] = run(spec, sf_dir)
        warm_runs[name] = [run(spec, sf_dir) for _ in range(2)]
    spark.stop()
    return {
        "warm": {n: min(r) for n, r in warm_runs.items()},
        "warm_runs": warm_runs,
        "cold": cold,
        "k_scaled": k_scaled,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    if len(sys.argv) > 1 and sys.argv[1] == "--group":
        # Child: print this group's result as the last line and exit.
        print(json.dumps(_run_group(sys.argv[2], sys.argv[3])))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--shard":
        print(json.dumps(_build_shards(sys.argv[2])))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--textcorpus":
        print(json.dumps(_build_text_corpus(sys.argv[2], int(sys.argv[3]))))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--veccorpus":
        print(json.dumps(_build_vector_corpus(sys.argv[2], int(sys.argv[3]))))
        return

    def _child(args: list[str]) -> dict:
        proc = subprocess.run(
            [sys.executable, __file__, *args],
            capture_output=True,
            text=True,
            cwd=_REPO,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"bench child {args[0]} failed rc={proc.returncode}")
        return json.loads(proc.stdout.strip().splitlines()[-1])

    shard_sec = _child(["--shard", sf_dir])
    run_dir = _shard_dir_for(sf_dir)

    warm: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    subtotals: dict[str, float] = {}
    for group in ("relational", "pipeline", "trainers"):
        res = _child(["--group", group, run_dir])
        warm.update(res["warm"])
        warm_runs.update(res["warm_runs"])
        cold.update(res["cold"])
        subtotals[group] = round(sum(res["warm"].values()), 3)

    # Text-scale leg: flagship text/dedup queries over the synthetic corpus.
    # Separate section + subtotal; NEVER merged into the headline series
    # (which stays comparable on the driver fixtures).
    text_docs = _scale_size("SPARK_GRAFT_TEXT_DOCS", 65536)
    text_scale: dict = {}
    if text_docs > 0:
        corpus = f"{_SHARD_ROOT}/textcorpus_{text_docs}"
        built = _child(["--textcorpus", corpus, str(text_docs)])
        res = _child(["--group", "text_scale", corpus])
        subtotals["text_scale"] = round(sum(res["warm"].values()), 3)
        text_scale = {
            "n_docs": text_docs,
            "corpus_build_sec": built["build_sec"],
            "queries_warm": res["warm"],
            "warm_runs": res["warm_runs"],
            "queries_cold": res["cold"],
        }

    # Vector-scale leg: flagship ANN/dedup queries over the synthetic
    # embedding corpus, k-means-backed ones at k = n/256.  Same contract as
    # text_scale: separate section, never merged into the headline series.
    vec_vecs = _scale_size("SPARK_GRAFT_VECTOR_VECS", 32768)
    vector_scale: dict = {}
    if vec_vecs > 0:
        vcorpus = f"{_SHARD_ROOT}/veccorpus_{vec_vecs}"
        vbuilt = _child(["--veccorpus", vcorpus, str(vec_vecs)])
        res = _child(["--group", "vector_scale", vcorpus])
        subtotals["vector_scale"] = round(sum(res["warm"].values()), 3)
        vector_scale = {
            "n_vecs": vec_vecs,
            "k_scaled": res["k_scaled"],
            "corpus_build_sec": vbuilt["build_sec"],
            "queries_warm": res["warm"],
            "warm_runs": res["warm_runs"],
            "queries_cold": res["cold"],
        }

    # Bulky sections lead; the compact headline is the LAST line so a
    # tail-capture of stdout always contains one complete parseable JSON.
    print(json.dumps({"section": "shards", "build_sec": shard_sec,
                      "run_dir": run_dir,
                      "splits": _SHARD_SPLITS}))
    print(json.dumps({"section": "cold", "queries_cold": cold,
                      "total_cold": round(sum(cold.values()), 3)}))
    print(json.dumps({"section": "variance", "warm_runs": warm_runs}))
    if text_scale:
        print(json.dumps({"section": "text_scale", **text_scale}))
    if vector_scale:
        print(json.dumps({"section": "vector_scale", **vector_scale}))
    print(json.dumps({"section": "groups", "warm_subtotals": subtotals,
                      "cpus": default_parallelism()}))
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
