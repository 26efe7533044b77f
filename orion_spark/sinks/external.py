"""Driver-side steps shared by the sinks that hand files to external tools
(SURVEY §2.1 K4/K5, N5): the one subprocess runner (dump and load chains,
the meta-KG check, the SnpEff annotator), the one part-directory
concatenator, and the node-label set both index builders read."""

from __future__ import annotations

import os
import shutil
import subprocess

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NAMED_THING = "biolink:NamedThing"


def run_tool(
    command: list[str], error: type[Exception], log: list[str] | None = None,
    stdin_text: str | None = None, **kwargs,
) -> str:
    """Run ``command`` (logged to ``log``) on ``stdin_text``; ``kwargs`` go
    to ``subprocess.run`` (``cwd``, or ``stdout`` to stream into a file).
    Returns stdout. A nonzero exit raises ``error`` with the exit code and
    stderr (orion/neo4j_tools.py:50-66 gates every call on it)."""
    if log is not None:
        log.append(" ".join(command))
    kwargs.setdefault("stdout", subprocess.PIPE)
    stdin = stdin_text.encode() if stdin_text is not None else None
    result = subprocess.run(command, input=stdin, stderr=subprocess.PIPE, **kwargs)
    if result.returncode != 0:
        raise error(
            f"{command[0]} failed (ExitCode {result.returncode}): "
            f"{result.stderr.decode('UTF-8').strip()}"
        )
    return (result.stdout or b"").decode("UTF-8")


def concat_parts(part_dir: str, header: str, out: str) -> None:
    """Write ``header`` as the first line of ``out``, then every part file
    of ``part_dir`` in name order. Streamed (multi-GB parts never sit in
    driver memory) into ``out.tmp``, then renamed: a crash never leaves a
    partial ``out`` for an existence gate to trust."""
    with open(out + ".tmp", "wb") as fh:
        fh.write((header + "\n").encode())
        for part in sorted(os.listdir(part_dir)):
            if part.startswith("part-") and not part.endswith(".crc"):
                with open(os.path.join(part_dir, part), "rb") as p:
                    shutil.copyfileobj(p, fh)
    os.replace(out + ".tmp", out)


def node_labels(nodes: DataFrame) -> list[str]:
    """The distinct node labels (exploded ``category``), sorted: computed
    before the database exists instead of ``CALL db.labels()``."""
    return sorted(
        r[0]
        for r in nodes.select(F.explode("category").alias("l")).distinct().collect()
    )
