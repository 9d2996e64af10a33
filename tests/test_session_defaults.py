"""Host-derived session defaults, checked without starting a session."""

from __future__ import annotations

import ast
import pathlib

import censo_escolar_spark
from censo_escolar_spark.plans.events import e45_state_partitions
from censo_escolar_spark.session import MAX_DEFAULT_HEAP_MB, local_resources

GiB = 2**30


def test_cores_follow_the_host():
    assert local_resources({}, 4, 15 * GiB)[0] == "4"
    assert local_resources({}, 32, 128 * GiB)[0] == "32"
    assert local_resources({}, 0, 15 * GiB)[0] == "1"


def test_heap_is_half_the_ram_capped():
    assert local_resources({}, 4, 15 * GiB)[1] == f"{15 * 1024 // 2}m"
    assert local_resources({}, 32, 128 * GiB)[1] == f"{MAX_DEFAULT_HEAP_MB}m"
    assert MAX_DEFAULT_HEAP_MB == 24 * 1024


def test_environment_overrides():
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert local_resources(env, 32, 128 * GiB) == ("2", "3g")
    # an empty variable counts as unset
    assert local_resources({"SPARK_GRAFT_CPUS": ""}, 8, 16 * GiB) == ("8", "8192m")


def test_e45_state_partitions_follow_the_slots():
    assert e45_state_partitions(32) == 16
    assert e45_state_partitions(64) == 16
    assert e45_state_partitions(8) == 4
    assert e45_state_partitions(4) == 4
    assert e45_state_partitions(1) == 4
    assert e45_state_partitions(20) == 10


def test_package_reads_only_the_deployment_variables():
    """The engine's only environment settings are the host sizing ones;
    a measurement knob belongs in the script that measures."""
    root = pathlib.Path(censo_escolar_spark.__file__).parent
    names = {
        node.value
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("SPARK_GRAFT_")
    }
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
