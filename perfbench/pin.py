"""Write pinned values into perfbench/pins.json.

    python3 perfbench/pin.py corpus 0 99    # corpus fingerprints, seeds 0..99
    python3 perfbench/pin.py outputs        # output values recorded by runs

``outputs`` copies the first output values that runs in this checkout
recorded (``.perfbench_work/observed.json``) for seeds that have no pin yet.
Pin only from runs of code whose outputs are known to be right.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import corpus, gate

    pins = gate.load_json(gate.PINS_PATH)
    if argv[:1] == ["corpus"] and len(argv) == 3:
        for wl, make in corpus.CORPORA.items():
            for seed in range(int(argv[1]), int(argv[2]) + 1):
                pins.setdefault("corpus", {}).setdefault(wl, {})[str(seed)] = corpus.fingerprint(make(seed))
    elif argv == ["outputs"]:
        seen = gate.load_json(os.path.join(ROOT, ".perfbench_work", "observed.json")).get("outputs", {})
        for wl, by_seed in seen.items():
            for seed, value in by_seed.items():
                pins.setdefault("outputs", {}).setdefault(wl, {}).setdefault(seed, value)
    else:
        print(__doc__, file=sys.stderr)
        return 2
    gate.save_json(gate.PINS_PATH, pins)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
