"""The session factory's JVM launch options: the JIT compiler-thread count
derived from ``$SPARK_GRAFT_CPUS``, and its arrival in a live driver JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from xgboost_ray_spark.session import compiler_threads, effective_cpus

# HotSpot's own CICompilerCount by cpu count, as JDK 17 prints it with
# `java -XX:ActiveProcessorCount=n -XX:+PrintFlagsFinal -version`.
HOTSPOT_COUNT = {1: 2, 2: 2, 3: 2, 4: 3, 8: 4, 12: 4, 16: 12, 32: 15, 64: 18, 128: 21}

# Reads back the running driver JVM's compiler count and launch arguments.
_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from xgboost_ray_spark.session import get_spark
spark = get_spark(app_name="java-options",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.caller=1"})
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
bean = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "count": bean.getVMOption("CICompilerCount").getValue(),
    "caller": jvm.java.lang.System.getProperty("graft.caller"),
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


def test_compiler_threads_only_lower_hotspots_count():
    assert compiler_threads(4) == 2  # the measured point; HotSpot picks 3
    assert compiler_threads(1) is None  # HotSpot's floor of 2 already
    assert compiler_threads(32) is None  # half (16) is above HotSpot's 15
    for cpus, hotspot in HOTSPOT_COUNT.items():
        count = compiler_threads(cpus)
        assert count is None or 2 <= count < hotspot, cpus


def test_live_jvm_runs_with_the_derived_count(spark):
    # spark-submit launches the driver with -XX:+IgnoreUnrecognizedVMOptions,
    # so only the running VM's own value proves an option took effect.
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = int(bean.getVMOption("CICompilerCount").getValue())
    count = compiler_threads(effective_cpus())
    assert live == count if count else live >= 2  # else HotSpot's own


def test_caller_java_options_follow_the_default():
    # A fresh JVM on 4 cpus' worth of options, with a caller's own
    # extraJavaOptions: both arrive, the engine's first.
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    root = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, root],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    live = json.loads(out.strip().splitlines()[-1])
    assert live["count"] == "2"
    assert live["caller"] == "1"
    args = live["args"]
    assert args.index("-XX:CICompilerCount=2") < args.index("-Dgraft.caller=1")
