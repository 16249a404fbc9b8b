"""Plan rules for the lakehouse-table extractors.

Same structural argument as tests/test_r10_plans.py: the checkpoint
bundle walk, the nested Dremel assembly, the Iceberg v2 delete
application and the zstd dictionary decode all stay inside the Arrow
map, with no data-bearing shuffle, no sort, no join. Checked on each
query's golden signature (see tests/plan_signature.py).
"""

import pytest

from .plan_signature import LAKEHOUSE_EXTRACTORS, assert_golden_keeps_invariants


@pytest.mark.parametrize("name", LAKEHOUSE_EXTRACTORS)
def test_r12_extractors_have_no_payload_shuffle(name):
    assert_golden_keeps_invariants(name)
