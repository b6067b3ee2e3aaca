"""Spark-side pipeline: scan -> bucket rebalance -> Arrow-batched
extraction -> committed write with lineage manifests."""
