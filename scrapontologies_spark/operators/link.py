"""M6/J1 — distributed entity reconcile + salted linking joins.

The reference's entity reconcile is a full outer join on ``Entity.id`` with
attribute-level merge, executed by an LLM per UPDATE_ENTITIES_PROMPT rules
1-4 (pdf_parser.py:310-339, prompts.py:230-250; SURVEY §2.3 J1, §2.11 M6).
Here: a full outer on ``id`` built from one salted left join plus one anti
join; matched rows merge attributes with the A1 deep merge inside an
Arrow-batched pandas UDF (exactly-once per pair — A1 is NOT idempotent on
lists, so the join is the only place merge runs).

Skew handling (BASELINE north_star): every reconcile is salted —
``salted_join`` replicates the dimension side 8 ways and routes fact rows
by a *deterministic* hash salt, never rand() (reruns must reproduce).  AQE
skew-join stays on as the second line of defense (session.py).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.semantics import canonical_json, merge_dicts_preferring_non_na

# salted_join's slice count: the ×dim replication factor of the reconcile
_SALT = 8


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


def reconcile(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Full-outer reconcile of two entity tables (id, type, attributes).

    Rules (prompts.py:230-250): same id → A1-merge attributes (existing
    wins conflicts); unmatched new → append; empty existing → copy new.
    Returns (id, type, attributes) with canonical-JSON attributes.

    Only rows where BOTH sides carry a non-empty attribute payload go
    through the Python merge UDF; single-sided rows (the vast majority in
    incremental runs) resolve with a JVM-side pick of the present side —
    identical values (``merge_one`` returns the other side verbatim when
    one side is None/''), asserted by the plan test and the value oracle.

    Skew path (BASELINE north_star): matched and new-only rows come from
    ONE :func:`salted_join` (new = fact, existing = dim ×_SALT), so a hot
    id's ``new`` rows spread over ``_SALT`` reducers; existing-only rows
    from a plain anti join (existing is dimension-shaped — no hot keys).
    Equal to the plain full outer for every input, NULL and duplicate ids
    included.
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
    null_s = F.lit(None).cast("string")
    left_only = e.join(n.select("id"), "id", "left_anti").withColumns(
        {"_type_n": null_s, "_attrs_n": null_s}
    )
    joined = salted_join(n, e, "id").unionByName(left_only)
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


def salted_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Left equi-join with explicit key salting for hot keys (SURVEY §4).

    The fact side derives a deterministic salt from its whole-row hash;
    the dim side is replicated ×_SALT via explode(sequence).  Result
    columns = fact ⟕ dim minus the helper column.  Use when one join key
    (mega-repo, hot entity id) dominates; for small dims prefer
    F.broadcast instead.

    Left (fact-driven) only: each fact row carries ONE salt, so it meets
    every dim row of its key in exactly one slice — value-identical to the
    unsalted left join (a right/full outer would emit _SALT null-padded
    replicas per unmatched dim key).
    """
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.struct(*fact.columns)), F.lit(_SALT)).cast("int")
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return f.join(d, [key, "_salt"], "left").drop("_salt")


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
