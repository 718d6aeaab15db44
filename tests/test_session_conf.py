"""Operators leave the session's config as they found it: results must
not depend on which query ran earlier in the session."""

from __future__ import annotations

import json

from omldm_spark.functions.parsing import (
    parse_data_instances,
    parse_data_instances_quarantine,
    parse_requests,
)
from omldm_spark.io import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_parse_and_load_leave_session_conf_unchanged(spark):
    """A fresh session, so a conf flipped by an earlier test cannot mask
    a flip made here."""
    s = spark.newSession()
    before = s.conf.getAll
    di = json.dumps({"id": 1, "numericalFeatures": [1.0],
                     "operation": "training"})
    rq = json.dumps({"id": 1, "request": "Create", "learner": {"name": "PA"}})
    raw = s.createDataFrame([(di,), (rq,), ("EOS",)], ["value"])
    assert len(parse_data_instances(raw).collect()) == 1
    assert len(parse_data_instances_quarantine(raw).collect()) == 3
    assert len(parse_requests(raw).collect()) == 1
    assert load_table(s, SF_DIR, "events").collect()
    assert s.conf.getAll == before
