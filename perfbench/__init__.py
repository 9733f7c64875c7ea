"""Engine benchmark package (see README.md)."""
