"""Engine benchmark: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of a checkout. See
``perfbench/PREDICTIONS.md`` for the workloads, metrics and predictions."""
