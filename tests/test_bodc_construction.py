"""Plan construction cost of the BODC coder: every Column call is a py4j
round trip, and assign_bodc_codes builds its routing and BODC ladders
once per call."""

from __future__ import annotations

import py4j.clientserver

#: py4j commands one assign_bodc_codes plan may take. It takes 580 when
#: each ladder upper-cases a column once per rule and builds each rule's
#: constant struct in one call, and more than twice that otherwise.
PY4J_BUDGET = 650


def test_assign_bodc_codes_plan_py4j_budget(spark, monkeypatch):
    from cioos_siooc_data_transform_spark.operators.bodc import assign_bodc_codes

    channels = spark.createDataFrame(
        [], "file_id STRING, channel_idx INT, name STRING, units STRING, "
        "minimum STRING, maximum STRING, pad STRING",
    )
    assign_bodc_codes(channels)  # the first build also resolves JVM classes
    sent = []
    send = py4j.clientserver.JavaClient.send_command

    def counting_send(self, command, *a, **k):
        # memory deletes finalize earlier references whenever Python's
        # garbage collector runs; they are not this build's work
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command, *a, **k)

    monkeypatch.setattr(py4j.clientserver.JavaClient, "send_command", counting_send)
    assign_bodc_codes(channels)
    monkeypatch.undo()
    assert 0 < len(sent) <= PY4J_BUDGET
