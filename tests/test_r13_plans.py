"""Plan rules for the table-version and pruning extractors.

Same structural argument as tests/test_r10_plans.py: time travel,
bucket pruning, WAL replay and the heavy Avro codecs stay inside the
Arrow map, so payload bytes never cross a task boundary. Checked on
each query's golden signature (see tests/plan_signature.py).
"""

import pytest

from .plan_signature import TABLE_EXTRACTORS, assert_golden_keeps_invariants


@pytest.mark.parametrize("name", TABLE_EXTRACTORS)
def test_r13_extractors_have_no_payload_shuffle(name):
    assert_golden_keeps_invariants(name)
