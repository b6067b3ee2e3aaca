"""End-to-end training-corpus curation: the composed pipeline a 100 TB
pretraining-data job actually runs, built purely from this package's
Catalyst operators — no Python on any hot path.

    URL hygiene (optional crawl-layer stages, ahead of any text work:
      canonicalize -> domain blocklist -> robots exclusion ->
      latest-snapshot dedup — cheap projection/broadcast decisions
      that shed rows before a byte of text is shuffled)
      -> quality gate (token floor)
      -> exact dedup            (min doc_id per identical text)
      -> MinHash near-dup dedup (band keeper over the survivors)
      -> benchmark decontamination (drop docs sharing any k-gram with
                                    the held-out set)
      -> shard packing          (per-source token-budget cumsum)

Each stage is a semi-join on the previous survivors, so the whole plan
stays joins+aggregations over (doc_id)-keyed decision tables: one
shuffle per decision, map-side partials everywhere, no collect. The
composition is deterministic end-to-end (every stage is), so the final
shard assignment is DuckDB-oracle-checkable as one SQL statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dce_spark.functions.textops import (
    decontaminate,
    dup_ngram_fraction,
    minhash_dedup,
    pack_shards,
    tokens_col,
    unigram_cross_entropy,
)
from dce_spark.functions.urlops import (
    latest_snapshot,
    robots_filter,
    url_blocklist_filter,
)


def curate_corpus(
    documents: DataFrame,
    benchmark: DataFrame,
    *,
    min_tokens: int = 20,
    k: int = 3,
    token_budget: int = 4096,
    max_dup_ngram_frac: float | None = None,
    drop_tail_bucket: bool = False,
    dup_k: int = 5,
    urls: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    robots_rules: DataFrame | None = None,
    robots_bodies: DataFrame | None = None,
    robots_agent: str = "*",
    latest_only: bool = False,
    cc_dedup: bool = False,
) -> DataFrame:
    """Returns the packed shard table (source, doc_id, n_tokens, shard)
    of the curated survivors.

    Optional strict gates (both corpus-relative, so they run over the
    near-dup SURVIVORS — measuring them pre-dedup would let the very
    duplicates being removed inflate every doc's dup-ngram fraction
    and shift the cross-entropy quartiles):
    * max_dup_ngram_frac — drop docs whose corpus-duplicate k-gram
      fraction exceeds the bound (RefinedWeb-style boilerplate gate)
    * drop_tail_bucket — drop the per-source cross-entropy 'tail'
      quartile (CCNet-style LM quality gate), computed over the
      dup-gate survivors

    Optional URL layer — the crawl-hygiene stages that run FIRST, so
    host-level decisions (projection + broadcast joins, no text
    shuffled) shed rows before any text gate:
    * urls — (doc_id, url[, ts]) table; enables the layer
    * blocklist — (host) suffix-matched domain blocklist drop
    * robots_rules — (host, allow, prefix) RFC 9309 evaluation; docs
      whose URL is disallowed are dropped
    * latest_only — keep only the newest capture (max(ts, doc_id))
      of each canonical URL, evaluated over the blocklist/robots
      SURVIVORS — a blocked newer capture must not shadow an older
      allowed one.
    Blocklist and robots are per-row decisions, so both are computed
    against the original URL table and applied as independent
    semi-joins; only latest-snapshot is order-sensitive.
    * robots_bodies — raw (host, body) robots.txt fetches; parsed
      with :func:`urlops.parse_robots` for ``robots_agent`` and used
      exactly like robots_rules (pass one or the other, not both —
      crawl pipelines usually have bodies, not pre-parsed tables).

    ``cc_dedup=True`` swaps the near-dup stage's band-keeper decision
    for the transitive-closure connected-components one
    (textops.minhash_dedup_cc): A~B~C collapses to ONE survivor even
    when A and C share no band. Costlier (local contraction, one more
    level per round of disagreeing labels) but the semantics most
    corpus papers mean by "near-dedup"."""
    base = documents.withColumn("doc_id", F.col("doc_id").cast("long"))

    def _cut(frontier):
        # LAZY local checkpoint: lineage is truncated and the frontier
        # cached at its first use, fused into that consumer's job —
        # an eager cut here was measured to cost one extra scheduled
        # job per stage for the same materialization. Frontiers stay
        # cached for the query's lifetime (no unpersist: releasing a
        # lazily-checkpointed parent before its child materializes
        # would drop blocks lineage can no longer rebuild). A cluster
        # job at 100 TB would checkpoint survivors to the warehouse
        # instead (same cut, durable + spillable).
        return frontier.localCheckpoint(eager=False)

    if urls is not None:
        surviving = urls.withColumn(
            "doc_id", F.col("doc_id").cast("long")
        )
        if blocklist is not None:
            ok = url_blocklist_filter(surviving, blocklist)
            surviving = surviving.join(
                ok.filter(~F.col("blocked")).select("doc_id"),
                "doc_id", "semi",
            )
        if robots_bodies is not None:
            if robots_rules is not None:
                raise ValueError(
                    "pass robots_rules or robots_bodies, not both"
                )
            from dce_spark.functions.urlops import parse_robots

            robots_rules = parse_robots(
                robots_bodies, agent=robots_agent
            )
        if robots_rules is not None:
            ok = robots_filter(urls, robots_rules)
            surviving = surviving.join(
                ok.filter(F.col("allowed")).select("doc_id"),
                "doc_id", "semi",
            )
        if latest_only:
            latest = latest_snapshot(surviving)
            surviving = surviving.join(
                latest.select(F.col("kept_id").alias("doc_id")),
                "doc_id", "semi",
            )
        # cut here: the text gates reference their input repeatedly,
        # and without the checkpoint each reference re-runs the whole
        # URL decision chain (a cluster job checkpoints survivors to
        # the warehouse for the same cut)
        base = _cut(base.join(surviving.select("doc_id"),
                              "doc_id", "semi"))

    gated = base.filter(F.size(tokens_col()) >= min_tokens)

    # exact dedup: the smallest doc_id per identical text survives
    exact_keep = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    g2 = gated.join(exact_keep.select("doc_id"), "doc_id", "semi")

    # near-dup dedup over the exact-dedup survivors (band keeper)
    if cc_dedup:
        from dce_spark.functions.textops import minhash_dedup_cc

        mh_keep = minhash_dedup_cc(g2, k=k).filter(
            F.col("is_canonical")
        )
    else:
        mh_keep = minhash_dedup(g2, k=k).filter(F.col("is_kept"))
    # cut at the near-dup survivors: decontaminate references g3 twice
    # and pack once (and the strict gates reference it several times
    # more), so without a cut the whole gate -> exact -> minhash
    # subtree re-runs per reference
    g3 = _cut(g2.join(mh_keep.select("doc_id"), "doc_id", "semi"))

    # Each corpus-relative gate references the survivor frame several
    # times (shingle side + totalization + the semi-join back), and
    # Spark recomputes the full upstream lineage per reference — the
    # minhash subtree would re-run 2^stages times. Checkpointing the
    # survivor frontier between gates (via _cut, the cut each
    # label_components level makes) bounds that to once per stage.

    if max_dup_ngram_frac is not None:
        dup = dup_ngram_fraction(g3, k=dup_k,
                                 threshold=max_dup_ngram_frac)
        g3 = _cut(
            g3.join(
                dup.filter(~F.col("flagged")).select("doc_id"),
                "doc_id", "semi",
            )
        )

    if drop_tail_bucket:
        ce = unigram_cross_entropy(g3)
        g3 = _cut(
            g3.join(
                ce.filter(F.col("bucket") != "tail").select("doc_id"),
                "doc_id", "semi",
            )
        )

    # decontamination: drop survivors sharing any k-gram with the
    # benchmark (benchmark members themselves self-hit and drop out)
    dec = decontaminate(g3, benchmark, k=k)
    g4 = g3.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "semi"
    )

    return pack_shards(g4, token_budget=token_budget)
