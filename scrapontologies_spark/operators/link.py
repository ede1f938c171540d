"""M6/J1 — distributed entity reconcile + salted linking joins.

The reference's entity reconcile is a full outer join on ``Entity.id`` with
attribute-level merge, executed by an LLM per UPDATE_ENTITIES_PROMPT rules
1-4 (pdf_parser.py:310-339, prompts.py:230-250; SURVEY §2.3 J1, §2.11 M6).
Here: a real full-outer DataFrame join; matched rows merge attributes with
the A1 deep merge inside an Arrow-batched pandas UDF (exactly-once per pair
— A1 is NOT idempotent on lists, so the join is the only place merge runs).

Skew handling (BASELINE north_star): ``salted_join`` replicates the
dimension side S ways and routes fact rows by a *deterministic* hash salt —
never rand() (reruns must reproduce).  AQE skew-join stays on as the second
line of defense (session.py).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.semantics import canonical_json, merge_dicts_preferring_non_na


@pandas_udf(T.StringType())
def _merge_attrs_udf(existing: pd.Series, new: pd.Series) -> pd.Series:
    """A1 merge of two canonical-JSON attribute columns (left-biased)."""

    def merge_one(a, b):
        if a is None or a == "":
            return b if b is not None else None
        if b is None or b == "":
            return a
        return canonical_json(
            merge_dicts_preferring_non_na(json.loads(a), json.loads(b))
        )

    return pd.Series([merge_one(a, b) for a, b in zip(existing, new)])


def reconcile(existing: DataFrame, new: DataFrame, salt: int = 0) -> DataFrame:
    """Full-outer reconcile of two entity tables (id, type, attributes).

    Rules (prompts.py:230-250): same id → A1-merge attributes (existing
    wins conflicts); unmatched new → append; empty existing → copy new.
    Returns (id, type, attributes) with canonical-JSON attributes.

    Only rows where BOTH sides carry a non-empty attribute payload go
    through the Python merge UDF; single-sided rows (the vast majority in
    incremental runs) resolve with a JVM-side pick of the present side —
    identical values (``merge_one`` returns the other side verbatim when
    one side is None/''), asserted by the plan test and the value oracle.

    ``salt > 0`` — the BASELINE north_star skew path for the entity-linking
    join: the full outer is decomposed into matched ∪ left-only ∪
    right-only, with the matched inner join and the new-side anti join
    running through :func:`salted_join` (new = fact, existing = dim ×salt),
    so a hot entity id whose ``new`` rows all hash to one reducer spreads
    across ``salt`` partitions.  Value-identical to the plain path
    (equivalence-tested at the job stage).
    """
    e = existing.select(
        F.col("id"),
        F.col("type").alias("_type_e"),
        F.col("attributes").alias("_attrs_e"),
    )
    n = new.select(
        F.col("id"),
        F.col("type").alias("_type_n"),
        F.col("attributes").alias("_attrs_n"),
    )
    if salt > 0:
        null_s = F.lit(None).cast("string")
        matched = salted_join(n, e, "id", how="inner", salt=salt)
        right_only = salted_join(
            n, e.select("id"), "id", how="left_anti", salt=salt
        ).withColumns({"_type_e": null_s, "_attrs_e": null_s})
        # existing side is one row per id (dimension-shaped) — no hot keys
        left_only = e.join(n.select("id"), "id", "left_anti").withColumns(
            {"_type_n": null_s, "_attrs_n": null_s}
        )
        joined = matched.unionByName(right_only).unionByName(left_only)
    else:
        joined = e.join(n, "id", "full_outer")
    a, b = F.col("_attrs_e"), F.col("_attrs_n")
    a_absent = a.isNull() | (a == "")
    b_absent = b.isNull() | (b == "")
    typ = F.coalesce("_type_e", "_type_n").alias("type")
    simple = joined.filter(a_absent | b_absent).select(
        "id", typ, F.when(a_absent, b).otherwise(a).alias("attributes")
    )
    merged = joined.filter((~a_absent) & (~b_absent)).select(
        "id", typ, _merge_attrs_udf(a, b).alias("attributes")
    )
    return simple.unionByName(merged)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with explicit key salting for hot keys (SURVEY §4).

    The fact side derives a deterministic salt from its whole-row hash;
    the dim side is replicated ×salt via explode(sequence).  Result
    columns = fact ⋈ dim minus the helper columns.  Use when one join key
    (mega-repo, hot entity id) dominates; for small dims prefer
    F.broadcast instead.

    Only fact-driven join types are valid: each fact row carries ONE salt,
    so inner/left/semi/anti results are value-identical to the unsalted
    join — but an unmatched dim key survives in salt-1 spurious replicas
    under right/full_outer (each unmatched (key, salt) replica would emit
    its own null-padded row), so those are rejected rather than silently
    duplicating data.
    """
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "semi", "left_semi", "leftsemi",
        "anti", "left_anti", "leftanti",
    }
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not fact-driven; the ×{salt} dim "
            "replication would emit spurious rows for unmatched dim keys. "
            f"Use one of {sorted(allowed)} or an unsalted join."
        )
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.struct(*fact.columns)), F.lit(salt)).cast("int")
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = f.join(d, [key, "_salt"], how)
    return out.drop("_salt")


def referential_integrity(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """J2 — keep only triples whose subj AND obj reference known entity ids
    (the reference guarantees this by generating relations *from* the entity
    list, pdf_parser.py:363-378).  Non-entity namespaces (lib::, term::) are
    exempt — they are external nodes by construction.

    Implemented as two left-semi joins; Catalyst broadcasts the id side when
    small, AQE handles the rest.
    """
    ids = entities.select(F.col("id").alias("_eid")).distinct()
    external = F.col("obj").startswith("lib::") | F.col("obj").startswith("term::")
    ok_subj = triples.join(ids, triples.subj == F.col("_eid"), "left_semi")
    internal_ok = (
        ok_subj.filter(~external)
        .join(ids, F.col("obj") == F.col("_eid"), "left_semi")
    )
    return internal_ok.unionByName(ok_subj.filter(external))
