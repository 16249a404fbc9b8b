"""Plan rules for the codec and columnar-file extractors.

Same structural argument as tests/test_r10_plans.py: scan → (id-spread
repartition) → Arrow map(s) → project, with no data-bearing shuffle, no
sort, no join. Checked on each query's golden signature (see
tests/plan_signature.py).
"""

import pytest

from .plan_signature import CODEC_EXTRACTORS, assert_golden_keeps_invariants


@pytest.mark.parametrize("name", CODEC_EXTRACTORS)
def test_r11_extractors_have_no_payload_shuffle(name):
    assert_golden_keeps_invariants(name)


def test_zstd_chain_is_back_to_back_arrow_maps():
    # synth → zstd unwrap → tar walk runs as one fused MapInPandas
    # (operators/fuse.py) with no Exchange between the stages: the
    # extractor rows (at most 1 Exchange, at least 1 MapInPandas)
    assert_golden_keeps_invariants("webdataset_zst")
