"""The JVM class-data archive every benchmark run starts Spark with.

    python3 perfbench/archive.py

Made once per checkout, by the first run that finds none: one JVM runs
every workload's set-up and warm-up and writes the classes it loaded
to ``.perfbench_build/spark.jsa`` when it exits
(``-XX:ArchiveClassesAtExit``). Later runs map the archive
(``-XX:SharedArchiveFile``) instead of loading and verifying those
classes again, which cuts 3–4 s of Spark start-up and 1–3 s of the
cold warm-up from every run. The archive is only valid for one class
path, so ``SPARK_CONF_DIR`` points at an empty directory next to it:
the JVM refuses to archive with a non-empty directory on the class
path, and the installed conf directory holds only templates. If the
JVM writes no archive, ``no-archive`` records that and runs go on
without one.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

BUILD = os.path.join(run.ROOT, ".perfbench_build")
ARCHIVE = os.path.join(BUILD, "spark.jsa")
NO_ARCHIVE = os.path.join(BUILD, "no-archive")
CONF_DIR = os.path.join(BUILD, "conf")


def jvm_options() -> str:
    """Driver JVM options that use the archive, once it is built."""
    return f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else ""


def ensure() -> None:
    """Build the archive in a process of its own unless this checkout
    has one, or has tried and failed."""
    if os.path.exists(ARCHIVE) or os.path.exists(NO_ARCHIVE):
        return
    import subprocess

    subprocess.run([sys.executable, os.path.abspath(__file__)], cwd=run.ROOT,
                   stdout=sys.stderr, timeout=600, check=False)
    if not os.path.exists(ARCHIVE):
        open(NO_ARCHIVE, "w").close()


def build() -> int:
    import workloads

    tmp = ARCHIVE + ".tmp"
    work = os.path.join(run.ROOT, ".perfbench_work", f"archive-{os.getpid()}")
    os.makedirs(work)
    run.configure_env(work, trace=False, jvm_options=f"-XX:ArchiveClassesAtExit={tmp}")
    spark = run.start_spark()
    try:
        for name, cls in workloads.WORKLOADS.items():
            w = cls(spark, os.path.join(work, name), seed=0)
            os.makedirs(w.work)
            w.setup()
            w.warmup()
    finally:
        run.stop_spark(spark)  # the JVM writes the archive as it exits
        from probe import wait_for_children

        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(tmp):
        os.replace(tmp, ARCHIVE)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [run.ROOT, run.HERE]
    sys.exit(build())
