"""One pipeline run in a fresh process: ``python -m dblink_spark <conf>``
with the benchmark's hooks installed from outside the program.

    python perfbench/worker.py <conf> <record.json> [--trace <eventlog dir>]

Writes what the hooks recorded (``layers.Recorder``) to ``record.json``.
The process start time is taken by the caller, just before it spawns this
process, so interpreter and import start-up count toward ``setup_s``.
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    conf, record_path = argv[0], argv[1]
    eventlog_dir = argv[3] if len(argv) > 3 and argv[2] == "--trace" else None
    import layers
    from dblink_spark.__main__ import main as cli_main

    rec = layers.Recorder()
    on_run_end = None
    if eventlog_dir is not None:
        layers.install_tracing(rec, eventlog_dir)

        def on_run_end(spark):
            rec.host = layers.host_floor(spark)

    layers.install_timing(rec, on_run_end)
    rc = cli_main([conf])
    rec.dump(record_path)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
