"""Single-process accuracy behind the benchmark's accuracy floors.

    python3 perfbench/calibrate.py [--size tiny] [seed ...]   (seeds 1-5)

Trains ``smo.train_svc`` in this process, with the reference defaults
the workloads use, on ``svm_mnist``'s training split and scores its
held-out split. ``workloads.SIZES[size]["single_process"]`` records
the minimum over the seeds; the global SVM's floor is
``workloads.FLOOR_MARGIN`` under it.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from parallel_svms_spark.ml import smo  # noqa: E402


def main(size: str, seeds: list[int]) -> None:
    sizes = W.SIZES[size]
    accs = []
    for seed in seeds:
        X, y = gen.mnist_standin(sizes["train"], seed, W.STREAM["train"])
        Xt, yt = gen.mnist_standin(sizes["test"], seed, W.STREAM["test"])
        model = smo.train_svc(X, y, gamma=W.GAMMA)
        accs.append(float((model.predict(Xt) == yt).mean()))
        print(f"seed={seed} single-process accuracy {accs[-1]:.4f}")
    print(f"min {min(accs):.4f} → floor {min(accs) - W.FLOOR_MARGIN:.4f}")


if __name__ == "__main__":
    args = sys.argv[1:]
    size = "default"
    if args[:1] == ["--size"]:
        size, args = args[1], args[2:]
    main(size, [int(s) for s in args] or [1, 2, 3, 4, 5])
