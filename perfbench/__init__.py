"""Outside-in benchmark of the sketch engine (see README.md)."""
