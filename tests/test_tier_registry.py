"""One registry for every persistable index class.

Every index class exported from ``faiss_metal_spark.__all__`` is a
derived tier registered for ``write_index`` (``compact_index._TIERS``,
filled by ``_Tier.__init_subclass__`` under the tier's ``_kind``), a
composite ``write_index`` writes explicitly, or on the explicit
non-persistable list below — so a new tier cannot ship without a store
format. Every exported ``merge_from`` refuses a foreign tier with
``ValueError("same index type")`` before touching the donor, and every
exported tier keeps exactly its pinned public method set — a shared
base must not hand a tier a method it never had.
"""

from __future__ import annotations

import pytest

import faiss_metal_spark as fms
from faiss_metal_spark.compact_index import _TIERS, PQIndex, SQ8Index, _Tier
from faiss_metal_spark.sources import index_io

# codec wrapper (faiss IndexRowwiseMinMax): no search, no store format
NON_PERSISTABLE = {"RowwiseMinMaxIndex"}

INDEX_CLASSES = sorted(
    n
    for n in fms.__all__
    if isinstance(getattr(fms, n), type)
    and (n.endswith("Index") or n.endswith("VectorTable"))
)
MERGEABLE = [n for n in INDEX_CLASSES if hasattr(getattr(fms, n), "merge_from")]


@pytest.mark.parametrize("name", INDEX_CLASSES)
def test_index_class_persists_or_is_listed(name):
    cls = getattr(fms, name)
    composite = issubclass(cls, index_io._composites())
    if name in NON_PERSISTABLE:
        assert not issubclass(cls, _Tier) and not composite
    elif issubclass(cls, _Tier):
        assert _TIERS[cls._kind] is cls
    else:
        assert composite, f"{name} is neither a registered tier nor a composite"


def test_every_tier_subclass_registered_once():
    def concrete(cls):
        for sub in cls.__subclasses__():
            if "_kind" in sub.__dict__:
                yield sub
            yield from concrete(sub)

    tiers = set(concrete(_Tier))
    assert tiers == set(_TIERS.values())
    assert len(tiers) == len(_TIERS)


@pytest.mark.parametrize("name", MERGEABLE)
def test_merge_from_refuses_foreign_tier_first(name):
    """Acceptor and donor are bare instances (no fields set): reading
    any donor attribute before the type check would raise
    AttributeError instead of the ValueError."""
    cls = getattr(fms, name)
    foreign = PQIndex if cls is SQ8Index else SQ8Index
    with pytest.raises(ValueError, match="same index type"):
        object.__new__(cls).merge_from(object.__new__(foreign))


# public methods of every exported tier, recorded before the tiers
# shared their codec methods through base classes
PUBLIC_METHODS = {
    "BinaryHNSWIndex": (
        "add_df add_numpy from_table range_search reconstruct release "
        "search search_numpy"
    ),
    "BinaryHashIndex": (
        "add_df add_numpy from_table range_search release remove_ids "
        "search search_numpy"
    ),
    "BinaryIVFIndex": (
        "add_df add_numpy from_table merge_from range_search release "
        "remove_ids search search_numpy"
    ),
    "BinaryIndex": (
        "add_df add_numpy from_table range_search refine_search_numpy "
        "release remove_ids search search_numpy"
    ),
    "Flat1DIndex": (
        "add_df add_numpy from_df from_table range_search reconstruct "
        "release remove_ids search search_numpy"
    ),
    "GraphIndex": (
        "add_df add_numpy from_table range_search reconstruct "
        "reconstruct_batch reconstruct_n release search search_numpy"
    ),
    "GraphPQIndex": (
        "add_df add_numpy from_table range_search reconstruct release "
        "search search_numpy"
    ),
    "GraphSQIndex": (
        "add_df add_numpy from_table range_search reconstruct release "
        "search search_numpy"
    ),
    "IMIIndex": (
        "add_df add_numpy from_table merge_from reconstruct release "
        "remove_ids search search_numpy"
    ),
    "IVFFlatDedupIndex": (
        "add_df add_numpy from_table range_search reconstruct release "
        "remove_ids search search_numpy update_vectors"
    ),
    "IVFIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "range_search_preassigned reconstruct release remove_ids "
        "search search_numpy search_preassigned "
        "search_preassigned_numpy update_vectors"
    ),
    "IVFPQFastScanIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids search search_numpy"
    ),
    "IVFPQIndex": (
        "add_df add_numpy from_table merge_from polysemous_train "
        "range_search reconstruct release remove_ids search "
        "search_numpy search_preassigned search_preassigned_numpy"
    ),
    "IVFPQRIndex": (
        "add_df add_numpy from_table merge_from reconstruct release "
        "remove_ids search search_numpy"
    ),
    "IVFRQFastScanIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids search search_numpy"
    ),
    "IVFRQIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids search search_numpy "
        "search_preassigned search_preassigned_numpy"
    ),
    "IVFSQIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "range_search_preassigned reconstruct release remove_ids "
        "search search_numpy search_preassigned "
        "search_preassigned_numpy"
    ),
    "LSHIndex": (
        "add_df add_numpy from_table refine_search_numpy release "
        "remove_ids sa_encode search search_numpy"
    ),
    "NSGIndex": (
        "add_df add_numpy from_table range_search reconstruct "
        "reconstruct_batch reconstruct_n release search search_numpy"
    ),
    "OPQIndex": (
        "add_df add_numpy from_table polysemous_train range_search "
        "reconstruct release remove_ids search search_numpy"
    ),
    "PQFastScanIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids sa_decode sa_encode search "
        "search_numpy"
    ),
    "PQIndex": (
        "add_df add_numpy add_sa_codes from_table merge_from "
        "polysemous_train range_search reconstruct release remove_ids "
        "sa_decode sa_encode search search_numpy"
    ),
    "PRQFastScanIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids sa_decode sa_encode search "
        "search_numpy"
    ),
    "PRQIndex": (
        "add_df add_numpy add_sa_codes from_table merge_from "
        "range_search reconstruct release remove_ids sa_decode "
        "sa_encode search search_numpy"
    ),
    "RQFastScanIndex": (
        "add_df add_numpy from_table merge_from range_search "
        "reconstruct release remove_ids sa_decode sa_encode search "
        "search_numpy"
    ),
    "RQIndex": (
        "add_df add_numpy add_sa_codes from_table merge_from "
        "range_search reconstruct release remove_ids sa_decode "
        "sa_encode search search_numpy"
    ),
    "SQ8Index": (
        "add_df add_numpy add_sa_codes from_table merge_from "
        "range_search reconstruct release remove_ids sa_decode "
        "sa_encode search search_numpy"
    ),
}


TIER_CLASSES = [n for n in INDEX_CLASSES if issubclass(getattr(fms, n), _Tier)]


def test_tier_public_methods_pinned():
    got = {
        n: sorted(
            a
            for a in dir(getattr(fms, n))
            if not a.startswith("_") and callable(getattr(getattr(fms, n), a))
        )
        for n in TIER_CLASSES
    }
    assert got == {n: sorted(v.split()) for n, v in PUBLIC_METHODS.items()}
