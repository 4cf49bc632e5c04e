"""Open-loop event generator for ``stream_rollup``.

Run as ``python3 -m citybench.generator <config.json>``, a process of
its own. It builds every file of its phase from the seed before the
phase starts, then drops file ``k`` into the stream's source directory
at ``t0 + offset_k`` on a Poisson schedule, whatever the stream is
doing: a slow consumer never slows the schedule, it only makes the
generator's files wait. Each event carries ``due_s``, the wall time
its file was due. The manifest records every file's due and actual
drop time and its event count.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from citybench import inputs


def phase_files(cfg: dict) -> list[tuple[float, str, pa.Table]]:
    """(offset_s, file name, events) of every file of the phase. Event
    time runs ``time_scale`` times faster than the schedule, starting at
    the phase's synthetic start."""
    phase = cfg["phase"]
    offsets = inputs.poisson_offsets(cfg["files_per_s"], cfg["seconds"], cfg["seed"], phase)
    base_us = cfg["phase_start_us"][phase]
    files = []
    for k, off in enumerate(offsets):
        ev = inputs.sensor_events(
            cfg["events_per_file"],
            cfg["seed"],
            stream=f"{phase}-{k}",
            start_us=base_us + int(off * cfg["time_scale"] * 1e6),
            span_us=cfg["file_span_us"],
            first_id=cfg["phase_first_id"][phase] + k * cfg["events_per_file"],
            tz="UTC",
        )
        files.append((float(off), f"{phase}-{k:05d}.parquet", ev))
    return files


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    files = phase_files(cfg)
    t0 = cfg["t0"]
    manifest = []
    for off, name, ev in files:
        due = t0 + off
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        ev = ev.append_column("due_s", pa.array([due] * ev.num_rows, pa.float64()))
        tmp = os.path.join(cfg["tmp"], name)
        pq.write_table(ev, tmp)
        os.rename(tmp, os.path.join(cfg["src"], name))
        manifest.append({"file": name, "due": due, "dropped": time.time(), "events": ev.num_rows})
    with open(os.path.join(cfg["manifest_dir"], f"{cfg['phase']}.json"), "w") as f:
        json.dump(manifest, f)


if __name__ == "__main__":
    main(sys.argv[1])
