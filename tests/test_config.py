"""Env-var config override layer (cvemate_spark/config.py): the
reference's os.getenv(NAME, ini_default) precedence
(config_handler.py:27-37) applied to session confs."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_env_overrides_parse_and_precedence():
    from cvemate_spark.config import env_conf_overrides

    # no env -> no overrides (defaults untouched)
    assert env_conf_overrides({}) == {}
    env = {
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "7",
        "SPARK_GRAFT_AQE": "false",
        "SPARK_GRAFT_BROADCAST_THRESHOLD": "1048576",
        "SPARK_GRAFT_WAREHOUSE": "/tmp/wh",
        "SPARK_GRAFT_CONF_spark__sql__ansi__enabled": "true",
        "UNRELATED": "x",
        "SPARK_GRAFT_CPUS": "4",  # consumed by get_spark, not a conf
    }
    got = env_conf_overrides(env)
    assert got == {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "1048576",
        "spark.sql.warehouse.dir": "/tmp/wh",
        "spark.sql.ansi.enabled": "true",
    }
    # generic passthrough wins over the named knob on collision
    env2 = {
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "7",
        "SPARK_GRAFT_CONF_spark__sql__shuffle__partitions": "9",
    }
    assert env_conf_overrides(env2) == {"spark.sql.shuffle.partitions": "9"}
    # empty values are ignored, not set-to-empty
    assert env_conf_overrides({"SPARK_GRAFT_AQE": ""}) == {}


def test_env_override_wins_over_default_in_real_session():
    """Spawn a fresh interpreter (the in-suite session is already
    built, and getOrCreate would ignore new confs) with the override
    set and assert the session actually carries it."""
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from cvemate_spark.session import get_spark\n"
        "s = get_spark(cpus=2)\n"
        "print('SHUF=' + s.conf.get('spark.sql.shuffle.partitions'))\n"
        "print('AQE=' + s.conf.get('spark.sql.adaptive.enabled'))\n"
        "s.stop()\n"
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "7"
    env["SPARK_GRAFT_AQE"] = "false"
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "SHUF=7" in out.stdout     # env beat the cores-default (2->8 floor)
    assert "AQE=false" in out.stdout  # env beat the tuned default (true)
