"""Workload definitions: which registered queries a run times, and in what order.

Every query is run through ``registry.load_all()[name].build(spark, sf_dir)``,
the call ``bench.py`` makes. The seed only permutes the order of the queries
inside each pass; the tables are the fixed testdata under ``data/``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from bench import TPCH_22  # the repo root must be on sys.path


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # Run once, untimed, after set-up: they absorb first-use costs (JIT of the
    # shared scan/aggregate paths, Python worker start) that would otherwise
    # land on whichever query the seed puts first.
    warmup: tuple[str, ...] = ()


TPCH22 = Workload(
    "tpch22",
    "the 22 TPC-H shapes: Hive read path (load_table, Catalyst, joins, aggregates); "
    "never touches extensions, streaming or scratch writes",
    TPCH_22,
    warmup=("workload_shipping_priority",),
)

LLM_OPS = Workload(
    "llm_ops",
    "LLM-data operators (MinHash-LSH, a foreachBatch LSH drain, k-means training, TF-IDF, "
    "BPE tokenize-pack, a mapInPandas kernel) plus a bucketed and an ACID read: eager build() work",
    (
        "dedup_minhash_lsh",
        "dedup_incremental_batch",
        "streaming_dedup_lsh_incremental",
        "similarity_kmeans_train",
        "text_tfidf_cosine",
        "text_bpe_pack_chain",
        "multimodal_audio_features",
        "hive_bucketed_read_prune",
        "acid_read_compacted",
    ),
    warmup=(
        "multimodal_audio_features",
        "dedup_incremental_batch",
        "hive_bucketed_read_prune",
        "text_tfidf_cosine",
    ),
)

WORKLOADS = {w.name: w for w in (TPCH22, LLM_OPS)}


def pass_orders(workload: Workload, seed: int):
    """Yield one seeded permutation of the workload's queries per pass."""
    rng = random.Random(seed)
    while True:
        order = list(workload.queries)
        rng.shuffle(order)
        yield order


# Owner of each query's builder, by module, for the build.s / build.jobs split.
OWNER_GROUPS = (
    "operators",
    "sources",
    "streaming",
    "extensions.dedup",
    "extensions.similarity",
    "extensions.text",
    "extensions.multimodal",
    "other",
)


def owner_group(module: str) -> str:
    """``apache_hive_1_2_2_src_spark.extensions.dedup`` -> ``extensions.dedup``."""
    parts = module.split(".")[1:]  # drop the package name
    for n in (2, 1):
        group = ".".join(parts[:n])
        if len(parts) >= n and group in OWNER_GROUPS:
            return group
    return "other"
