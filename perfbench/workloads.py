"""The benchmark's named workloads (why each exists: perfbench/NOTES.md).

A workload names its fixture (a directory of parquet tables under
perfbench/data) and the list of *units* one pass runs. For the
query workloads a unit is a declared query from ``__spark_entry__.queries()``;
for ``kmer`` it is one ``kmer_count`` call at one k over the tiled corpus.
``smoke`` holds the toy-size overrides used by ``run.py --smoke``.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

# One or two queries from each query module (kmerq, relational, scalars,
# llm, extensions, behavioral, tpch): many short queries, so the per-query
# costs dominate (declaration, plan cache, codegen, scheduling, streaming
# checkpoints, layout builds).
INVENTORY = [
    "kmer_count_k4",
    "join_inner_agg",
    "window_rank_parts",
    "graph_pagerank",
    "string_pack",
    "text_token_stats",
    "stream_rate_source",
    "udtf_top_words",
    "events_funnel",
    "tpch_q3_priority",
]


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries" or "kmer"
    fixture: str  # directory under perfbench/data
    queries: tuple[str, ...] = ()
    # kmer only: kmer_docs documents drawn by the seed, each tiled to kmer_chars
    kmer_docs: int = 0
    kmer_chars: int = 0
    kmer_ks: tuple[int, ...] = ()
    # unmeasured passes between the cold pass and the measured window: the
    # JVM's JIT goes on compiling Spark's hot paths for several passes after
    # the cold one, and a window that included them would sit at a point on
    # that curve set by how fast the host was
    warmup_passes: int = 0
    # the set-up probe also times the cold pass, so the cold metrics are a
    # median of two; only where the cold pass is short (kmer's is 3-4 s,
    # inventory's 15-25 s)
    probes_run_cold_pass: bool = False
    smoke: dict = field(default_factory=dict)

    def units(self) -> list[str]:
        if self.kind == "kmer":
            return [f"kmer_k{k}" for k in self.kmer_ks]
        return list(self.queries)


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="inventory",
            kind="queries",
            fixture="sf0.001",
            queries=tuple(INVENTORY),
            warmup_passes=3,
            smoke={"warmup_passes": 1},
        ),
        Workload(
            name="kmer",
            kind="kmer",
            fixture="sf0.001",
            kmer_docs=24,
            kmer_chars=250_000,
            kmer_ks=(8, 64),
            warmup_passes=4,
            probes_run_cold_pass=True,
            smoke={"kmer_chars": 20_000, "warmup_passes": 1},
        ),
    ]
}


def resolve(name: str, smoke: bool = False) -> Workload:
    """The named workload, with its smoke overrides applied if asked."""
    wl = WORKLOADS[name]
    return replace(wl, **wl.smoke) if smoke else wl
