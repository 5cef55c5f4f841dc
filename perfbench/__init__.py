"""CDC→SCD2 benchmark of the engine (``python3 perfbench/run.py --help``)."""
