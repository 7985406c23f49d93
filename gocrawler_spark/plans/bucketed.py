"""Domain-bucketed frontier state: zero-frontier-shuffle wave plans.

The scale problem (SURVEY.md §4): at 1e10 frontier rows, any per-wave
plan that SHUFFLES the frontier is O(frontier) network per wave and
cannot scale. Both frontier consumers can be served without one:

- **selection** (F7/F8): the per-host budget window requires
  ClusteredDistribution(domain) — a scan of a domain-bucketed table
  already provides HashPartitioning(domain, n) → no Exchange at all.
- **merge** (F5/A4): the merge IS FR.merge_into_frontier, run over
  the bucketed scan with a domain-aligned candidate side. Its joins
  are keyed on (domain, url) — equivalent to url, which functionally
  determines domain — and with
  `spark.sql.requireAllClusterKeysForCoPartition=false` Spark accepts
  the bucketed HashPartitioning(domain) as co-partitioning for those
  keys. The wave-sized candidate side takes the only Exchange; the
  frontier side is scanned in place.

With `spark.sql.legacy.bucketedTableScan.outputOrdering=true` and one
file per bucket (guaranteed by repartitioning on domain before the
write), the table's sortBy(domain, url) order also elides the
frontier-side Sort of the sort-merge join.

Iterative state uses ping-pong tables (`<name>__a` / `<name>__b`):
wave N reads the current side and writes the next frontier to the
other side, then flips — a self-overwrite of the table being scanned
is illegal, and alternation gives crash safety (the previous wave's
table is intact until the next flip). This is the Parquet stand-in
for Iceberg snapshot-and-swap.

Session configs required (applied by `apply_confs` / `set_confs`):
see CONFS.

Replaces reference semantics: the operators of operators/frontier.py
(addLink crawler.go:425-470, getNextLink crawler.go:384-423) run
unchanged over the bucketed scan; only the physical layout differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gocrawler_spark.operators import frontier as FR

CONFS = {
    # accept subset-of-join-keys bucketing as co-partitioning
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # never let the planner silently fall back to a non-bucketed scan
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # propagate sortBy order from one-file-per-bucket scans
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def apply_confs(builder):
    for k, v in CONFS.items():
        builder = builder.config(k, v)
    return builder


def set_confs(spark: SparkSession) -> None:
    for k, v in CONFS.items():
        spark.conf.set(k, v)


class BucketedFrontier:
    """The frontier as a managed table bucketed by domain and sorted
    by (domain, url), with ping-pong alternation across waves."""

    def __init__(
        self, spark: SparkSession, name: str = "frontier", n_buckets: int = 32
    ):
        set_confs(spark)
        self.spark = spark
        self.name = name
        self.n_buckets = n_buckets
        self._side = 0

    def _table(self, side: int) -> str:
        return f"{self.name}__{'ab'[side]}"

    def write(self, df: DataFrame) -> DataFrame:
        """Write `df` as the next frontier table and flip to it.
        One shuffle of `df` by domain (for the initial load that is the
        full frontier; per wave, callers pass plans whose big side is
        already bucket-partitioned — see merge())."""
        nxt = 1 - self._side
        (
            df.repartition(self.n_buckets, "domain")
            .write.mode("overwrite")
            .bucketBy(self.n_buckets, "domain")
            .sortBy("domain", "url")
            .saveAsTable(self._table(nxt))
        )
        self._side = nxt
        return self.df()

    def df(self) -> DataFrame:
        return self.spark.table(self._table(self._side))

    def select_wave(
        self, domain_counter: DataFrame, wave_size: int, per_host_budget: int
    ) -> DataFrame:
        """FR.select_wave over the bucketed scan: the per-host window
        runs with NO Exchange (ClusteredDistribution(domain) is already
        satisfied); only the final global top-k moves data (wave-sized
        TakeOrderedAndProject)."""
        return FR.select_wave(
            self.df(), domain_counter, wave_size, per_host_budget
        )

    def merge(self, cand: DataFrame, pin=None, base: int | None = None) -> DataFrame:
        """F5/A4 merge against the bucketed frontier: FR.merge_into_frontier
        over the bucketed scan, with the candidates given ONE wave-sized
        Exchange by domain into bucket alignment. Both (domain, url)
        joins then scan the frontier in place (no Exchange, no Sort —
        the table is stored sorted by the join keys), so shuffled bytes
        per wave are O(wave), not O(frontier)."""
        return FR.merge_into_frontier(
            self.df(),
            cand.repartition(self.n_buckets, "domain"),
            pin=pin,
            base=base,
        )
