"""Sequence-packing shard writer — q278's audit turned into the artifact
(r6 verdict #3): training needs the PACKED shards, not just the fill report.

A pretraining loader consumes fixed-size context windows; feeding it raw
documents wastes budget on padding.  This sink assigns documents to packs
under a token budget and exports one sample PER PACK (joined text + doc
boundaries) through the existing shard sinks (WebDataset tar /
Arrow IPC), inheriting their exactly-once publish discipline (per-attempt
temp names, atomic rename, stale-temp sweep, manifest-last) and write-side
``_LINEAGE.json``.

Two deterministic strategies, one shared assignment code path:

- ``chunk`` — concatenate-and-chunk (the GPT-style default): documents are
  ordered (tokens desc, id) per group and bucketed by exclusive running
  token sum — q278's math exactly, so the fill audit is SQL-expressible
  and the q300 registry query oracle-diffs THIS code path against DuckDB.
  A document may straddle a pack boundary (the loader splits it, attention
  masks handle the seam).
- ``ffd`` — first-fit-decreasing: per group, docs sorted (tokens desc, id)
  each land in the FIRST open pack with room, else open a new one — no
  document ever straddles, at the cost of some residual padding.  FFD is
  inherently sequential per group, so it runs as an Arrow-batched
  ``applyInPandas`` over the group — the sanctioned custom-operator path
  for semantics the built-ins can't express; everything around it (token
  counting, pack aggregation, shard write) stays JVM-side.

Scale posture: groups (``group_col``, e.g. source/language shard) are the
parallel unit — assignment never sorts globally; pack aggregation is one
groupBy over (group, pack); the per-group FFD state is one pandas frame of
that group's (id, tokens) pairs — metadata-scale, not text-scale, because
packing runs on counts and only the final pack assembly touches text.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators import fsops

PACKING_FILE = "_PACKING.json"


def _with_tokens(df: DataFrame, text_col: str, token_col: str | None) -> DataFrame:
    """Ensure an ``n_tokens`` column: caller-supplied counts, else the
    q278 whitespace tokenizer (size of the lowercased split)."""
    if token_col is not None:
        return df.withColumn("n_tokens", F.col(token_col).cast("long"))
    return df.withColumn(
        "n_tokens",
        F.size(F.split(F.lower(F.col(text_col)), r"\s+")).cast("long"),
    )


def assign_packs(
    df: DataFrame,
    budget: int,
    group_col: str,
    id_col: str,
    strategy: str = "ffd",
) -> DataFrame:
    """Add ``pack_id`` (long, dense per group) and ``pack_pos`` (int, the
    document's position inside its pack) to ``df`` (which must already
    carry ``n_tokens``).  Deterministic for both strategies: assignment
    order is (n_tokens desc, id asc) within each group.

    ``chunk``: q278's exclusive-running-sum bucketing in that order —
    SQL-expressible, straddle allowed.  ``ffd``: first open pack with
    room; a document larger than the budget gets a pack of its own (the
    loader truncates it — flagged in :func:`pack_summary`)."""
    if budget <= 0:
        raise ValueError(f"assign_packs: budget must be positive, got {budget}")
    order = [F.desc("n_tokens"), F.asc(id_col)]
    if strategy == "chunk":
        w = (
            Window.partitionBy(group_col)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
        assigned = df.withColumn("pack_id", F.floor(cum_before / budget))
        wp = Window.partitionBy(group_col, "pack_id").orderBy(*order)
        return assigned.withColumn(
            "pack_pos", (F.row_number().over(wp) - 1).cast("int")
        )
    if strategy != "ffd":
        raise ValueError(f"assign_packs: unknown strategy {strategy!r}")

    from pyspark.sql import types as T

    # fresh StructType — StructType.add would MUTATE df's cached schema
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("pack_id", T.LongType()), T.StructField("pack_pos", T.IntegerType())]
    )

    def ffd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        remaining: list[int] = []  # room left per open pack, index = pack_id
        fill_count: list[int] = []  # docs per pack -> pack_pos
        pack_ids, positions = [], []
        for tok in pdf["n_tokens"]:
            tok = int(tok)
            target = None
            for b, room in enumerate(remaining):
                if room >= tok:
                    target = b
                    break
            if target is None:
                target = len(remaining)
                # oversize doc: its own pack, no room for anything else
                remaining.append(max(0, budget - tok))
                fill_count.append(0)
            else:
                remaining[target] -= tok
            pack_ids.append(target)
            positions.append(fill_count[target])
            fill_count[target] += 1
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        pdf["pack_pos"] = pd.Series(positions, dtype="int32")
        return pdf

    return df.groupBy(group_col).applyInPandas(ffd, schema)


def pack_summary(assigned: DataFrame, budget: int, group_col: str) -> DataFrame:
    """Per-pack audit rows over an :func:`assign_packs` result:
    (group, pack_id, n_docs, pack_tokens, fill, overflow) — ``overflow``
    marks a pack whose tokens exceed the budget (a straddler under
    ``chunk``; an oversize single document under ``ffd``)."""
    return assigned.groupBy(group_col, "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
        (F.sum("n_tokens") / F.lit(float(budget))).alias("fill"),
        (F.sum("n_tokens") > budget).alias("overflow"),
    )


def export_packed_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    budget: int = 2048,
    group_col: str = "source",
    strategy: str = "ffd",
    fmt: str = "wds",
    n_shards: int | None = None,
) -> dict:
    """Pack ``df``'s documents and export one sample per PACK: ``text`` is
    the pack's documents joined with newlines in pack order, ``meta`` is a
    JSON string with the doc ids, per-doc token counts, budget, and fill —
    everything a loader needs to rebuild boundaries.  ``fmt`` picks the
    delivery sink: ``wds`` (tar shards) or ``arrow`` (IPC shards); both
    publish exactly-once (temp + atomic rename, manifest last) and emit
    ``_LINEAGE.json``.  A ``_PACKING.json`` beside the sink manifest
    records budget/strategy and the fill audit (packs, fill, overflow
    counts per group) from the same assignment that was written.

    Deterministic end to end: same input -> same packs -> same sample keys
    and bytes, so a re-export is an idempotent republish."""
    base = df.select(group_col, id_col, text_col, *(
        [token_col] if token_col and token_col not in (group_col, id_col, text_col) else []
    ))
    assigned = assign_packs(
        _with_tokens(base, text_col, token_col), budget, group_col, id_col, strategy
    )

    member = F.struct(
        F.col("pack_pos"), F.col(id_col).alias("doc_id"),
        F.col("n_tokens"), F.col(text_col).alias("doc_text"),
    )
    packs = (
        assigned.groupBy(group_col, "pack_id")
        .agg(F.array_sort(F.collect_list(member)).alias("members"))
        .select(
            F.concat_ws(
                "/", F.col(group_col), F.format_string("%08d", F.col("pack_id").cast("int"))
            ).alias("__key__"),
            F.col(group_col).alias("group"),
            F.col("pack_id"),
            F.concat_ws(
                "\n", F.expr("transform(members, m -> m.doc_text)")
            ).alias("text"),
            F.to_json(
                F.struct(
                    F.expr("transform(members, m -> m.doc_id)").alias("doc_ids"),
                    F.expr("transform(members, m -> m.n_tokens)").alias("doc_tokens"),
                    F.expr(
                        "aggregate(transform(members, m -> m.n_tokens), 0L, (a, x) -> a + x)"
                    ).alias("pack_tokens"),
                    F.lit(budget).alias("budget"),
                )
            ).alias("meta"),
        )
    )
    if n_shards is not None:
        packs = packs.repartition(n_shards, "group", "pack_id")

    if fmt == "wds":
        from bigquack_spark.sinks.wds import export_webdataset_shards

        manifest = export_webdataset_shards(
            packs.drop("group", "pack_id"),
            path,
            key_col="__key__",
            suffixes={"meta": "json"},  # both payload columns are strings
        )
    elif fmt == "arrow":
        from bigquack_spark.sinks.arrow import export_arrow_shards

        manifest = export_arrow_shards(packs.drop("group", "pack_id"), path)
    else:
        raise ValueError(f"export_packed_shards: unknown fmt {fmt!r}")

    audit = (
        pack_summary(assigned, budget, group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.sum("pack_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("fill"), 6).alias("avg_fill"),
            F.sum(F.col("overflow").cast("long")).cast("long").alias("n_overflow"),
        )
        .collect()
    )  # one row per group — metadata-scale
    packing = {
        "budget": budget,
        "strategy": strategy,
        "group_col": group_col,
        "fmt": fmt,
        "groups": {
            r[group_col]: {
                "n_packs": r["n_packs"],
                "total_tokens": r["total_tokens"],
                "avg_fill": float(r["avg_fill"]),
                "n_overflow": r["n_overflow"],
            }
            for r in audit
        },
    }
    fsops.write_atomic(os.path.join(path, PACKING_FILE), json.dumps(packing, indent=1))
    return {**manifest, "packing": packing}
