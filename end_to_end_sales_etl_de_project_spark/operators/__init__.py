"""Package marker: import the submodules."""
