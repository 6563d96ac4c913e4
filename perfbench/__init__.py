"""Layered benchmark for hipipe_spark: one closed-loop workload per run,
end-to-end metrics untraced, per-layer metrics from a separate traced
run. Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/README.md``."""
