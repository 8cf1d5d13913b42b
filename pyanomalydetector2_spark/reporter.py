"""Alarm report — the reference's reporter re-expressed
(/root/reference/reporter.py:7-46): build the nested
cluster → group → host → items dict from the latest anomalies, alarming iff
a cluster spans more than one host (README.md:66-67 of the reference).

The anomalies survivor set is tiny; the aggregation runs distributed and the
nesting is assembled on the driver (same shape as the reference's dict).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_epoch(anomalies: DataFrame) -> int | None:
    """O4 — last-epoch selection (reference reporter.py:21-22)."""
    row = anomalies.agg(F.max("created").alias("m")).first()
    return row["m"]


def build_report(anomalies: DataFrame, min_hosts: int = 2) -> dict:
    """Nested alarm dict for the latest run: only clusters covering
    ≥ min_hosts distinct hosts alarm (reference reporter.py:25-46:
    first-row-per-(cluster,host), keep clusters with >1 member)."""
    ep = latest_epoch(anomalies)
    if ep is None:
        return {}
    latest = anomalies.filter(F.col("created") == ep)
    # A15: deterministic first item per (cluster, host)
    w = Window.partitionBy("clusterid", "hostid").orderBy("itemid")
    firsts = latest.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    rows = firsts.collect()

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["clusterid"], []).append(r)
    report: dict = {}
    # None-safe sort: a NULL clusterid (row upserted before classification
    # ran) must be skipped by the guard below, not crash sorted()
    for cid, members in sorted(
        by_cluster.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)
    ):
        if cid is None or cid < 0 or len({m["hostid"] for m in members}) < min_hosts:
            continue
        cluster: dict = {}
        for m in sorted(members, key=lambda x: (x["group_name"] or "", x["hostid"])):
            grp = cluster.setdefault(m["group_name"], {})
            grp.setdefault(m["host_name"], []).append(
                {"itemid": m["itemid"], "item_name": m["item_name"]}
            )
        report[f"cluster_{cid}"] = cluster
    return report
