"""Plan build cost in py4j round trips.

A registry entry's Python plan build is a chain of py4j commands (one
per DataFrame/Column call, plus whatever PySpark wraps around each
call). ``session.get_spark`` turns off PySpark's per-call call-site
capture, which doubled that chain. These budgets are the warm-build
command counts measured with it off (531, 344 and 274 at sf0.001;
1,191, 844 and 554 with it on), plus 25%: a build that drifts back
toward the doubled chain fails here before it shows up as latency.
Memory commands are not counted: they release Python-collected Java
references whenever the garbage collector runs, not per call.
"""

from __future__ import annotations

import py4j.clientserver
import pytest
from py4j.protocol import MEMORY_COMMAND_NAME

from mapreduceece563_spark import registry
from tests.conftest import SF_DIR

BUDGETS = {
    "training_manifest": 664,
    "ewma_control_chart": 430,
    "bm25_search": 343,
}


def test_session_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_warm_build_stays_within_py4j_budget(name, spark, monkeypatch):
    build = registry.queries()[name]
    build(spark, SF_DIR)  # warm: table schemas and other per-session memos
    sent = []
    send = py4j.clientserver.JavaClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.JavaClient, "send_command", counting)
    build(spark, SF_DIR)
    assert len(sent) <= BUDGETS[name], (
        f"{name}: {len(sent)} py4j commands, budget {BUDGETS[name]}"
    )
